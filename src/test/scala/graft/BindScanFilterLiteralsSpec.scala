package graft

import graft.expressions.BoundLiteral
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{FilterExec, SimpleMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.prop.TableDrivenPropertyChecks._
import scala.jdk.CollectionConverters._

/** `BindScanFilterLiterals` moves a file-scan filter's integral literals
  * out of the generated code; the rows it keeps must not change. Each
  * predicate runs over a multi-file parquet copy of the rows (rewritten)
  * and over a local copy of the same rows (no file scan, not rewritten),
  * with ANSI mode on and off. */
class BindScanFilterLiteralsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", IntegerType), StructField("l", LongType), StructField("i", IntegerType)))

  private val rows: Seq[Row] = Seq[(java.lang.Long, java.lang.Integer)](
    (Long.MinValue, Int.MinValue), (Long.MinValue + 1, Int.MinValue + 1), (-7L, -7), (-1L, -1),
    (0L, 0), (1L, 1), (7L, 7), (1334L, 1334), (Long.MaxValue - 1, Int.MaxValue - 1),
    (Long.MaxValue, Int.MaxValue), (null, null), (0L, null), (null, 0)
  ).zipWithIndex.map { case ((l, i), k) => Row(k, l, i) }

  private lazy val local: DataFrame = spark.createDataFrame(rows.asJava, schema)

  private lazy val files: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-bound-literals").toString
    local.repartition(3).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** A NULL of the column's type (`lit(null)` alone would be NullType). */
  private def nullOf(c: String): Column = lit(null).cast(if (c == "l") LongType else IntegerType)

  private val predicates = Table[String, (Column, Column, String) => Column](
    ("predicate", "build"),
    ("=", (c, v, _) => c === v),
    ("<", (c, v, _) => c < v),
    (">=", (c, v, _) => c >= v),
    ("IN", (c, v, _) => c.isin(v, lit(1334))),
    ("<=>", (c, v, _) => c <=> v),
    ("NOT =", (c, v, _) => !(c === v)),
    ("= NULL", (c, _, n) => c === nullOf(n)),
    ("<=> NULL", (c, _, n) => c <=> nullOf(n)),
    ("IN with NULL", (c, v, n) => c.isin(v, nullOf(n))))

  private val longValues = Seq(Long.MinValue, Long.MaxValue, 0L, -7L, 424242L)
  private val values = Table(("column", "value"),
    longValues.map(v => ("l", lit(v): Column)) ++
      (longValues ++ Seq(Int.MinValue.toLong, Int.MaxValue.toLong)).map(v =>
        ("i", if (v.isValidInt) lit(v.toInt) else lit(v))): _*)

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val saved = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", on.toString)
    try body finally spark.conf.set("spark.sql.ansi.enabled", saved)
  }

  test("bound file-scan filters keep the rows of the same predicate over local rows") {
    var bound = 0
    for (ansi <- Seq(true, false)) withAnsi(ansi) {
      forAll(predicates) { (what, build) =>
        forAll(values) { (c, v) =>
          withClue(s"ansi=$ansi, $c $what $v: ") {
            val served = files.where(build(col(c), v, c)).select("k")
            served.collect().map(_.getInt(0)).sorted shouldBe
              local.where(build(col(c), v, c)).select("k").collect().map(_.getInt(0)).sorted
            val plan = served.queryExecution.executedPlan
            val literals = plan.collect { case f: FilterExec => f.condition }
              .flatMap(_.collect { case b: BoundLiteral => b })
            val filterLines = served.queryExecution.explainString(SimpleMode)
              .linesIterator.filter(_.contains("Filter ")).mkString("\n")
            literals.foreach(b => filterLines should include(b.value.toString))
            bound += literals.size
          }
        }
      }
    }
    bound should be > 0
  }

  test("a long point lookup over parquet binds its literal and still prunes with it") {
    val lookup = files.where(col("l") === 1334L).select("k")
    lookup.collect().map(_.getInt(0)).toSeq shouldBe Seq(7)
    val plan = lookup.queryExecution.executedPlan
    plan.collect { case f: FilterExec => f.condition }
      .flatMap(_.collect { case b: BoundLiteral => b }) shouldBe Seq(BoundLiteral(1334L, LongType))
    plan.toString should include("EqualTo(l,1334)") // the scan still prunes with the value
    lookup.queryExecution.explainString(SimpleMode) should include("= 1334)")
  }
}
