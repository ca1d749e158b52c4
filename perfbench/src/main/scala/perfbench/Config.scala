package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** A workload: the shape of its generated log, and what its measured phase
  * commits, full builds of the log or (`commitsBatches`) its ingest
  * batches. The rest of the run's plan is the same for every workload (see
  * the constants in `Runner`). */
final case class Workload(name: String, shape: Shape, commitsBatches: Boolean)

/** `workloads.json`, read for each workload's `shape` and `commit`. Its
  * other keys (why the workload was chosen, input sizes, seeds) document
  * the workloads and are not read. */
object Config {
  def load(path: String): Map[String, Workload] = {
    val root = new ObjectMapper().readTree(new java.io.File(path))
    def d(n: JsonNode, k: String): Double = req(n, k).asDouble()
    def i(n: JsonNode, k: String): Int = req(n, k).asInt()
    def req(n: JsonNode, k: String): JsonNode =
      Option(n.get(k)).getOrElse(sys.error(s"$path: missing key '$k'"))
    val ws = req(root, "workloads")
    val names = ws.fieldNames()
    val out = Map.newBuilder[String, Workload]
    while (names.hasNext) {
      val name = names.next()
      val w = ws.get(name)
      val s = req(w, "shape")
      out += name -> Workload(name,
        Shape(items = i(s, "items"), contexts = i(s, "contexts"),
          degMin = d(s, "deg_min"), degAlpha = d(s, "deg_alpha"), degCap = i(s, "deg_cap"),
          zipf = d(s, "zipf"), topics = i(s, "topics"), topicShare = d(s, "topic_share"),
          baseShare = d(s, "base_share"), batches = i(s, "batches"),
          appendsPerBatch = i(s, "appends_per_batch"), retractBatch = i(s, "retract_batch"),
          retractWhole = i(s, "retract_whole"), retractCells = i(s, "retract_cells")),
        commitsBatches = req(w, "commit").asText() match {
          case "batch" => true
          case "build" => false
          case c => sys.error(s"$path: $name: commit must be 'build' or 'batch', not '$c'")
        })
    }
    out.result()
  }
}
