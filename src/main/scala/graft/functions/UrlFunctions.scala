package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * URL canonicalization for crawl-frontier dedup — the step BEFORE fetch
 * in a crawl pipeline (two frontier entries that canonicalize equal are
 * one fetch, one document, one dedup key). Rules follow RFC 3986
 * normalization plus the tracking-parameter strip every production
 * crawler applies:
 *
 *   - scheme and host lowercase (case-insensitive by spec); path and
 *     query keep case (significant by spec)
 *   - fragment dropped (never sent to the server)
 *   - leading `www.` dropped from the host
 *   - default ports stripped (`:80` for http, `:443` for https)
 *   - duplicate path slashes collapsed; trailing slashes stripped
 *     (empty path → `/`)
 *   - tracking parameters removed (`utm_*`, `fbclid`, `gclid`, `ref`) —
 *     parameter-exact via a split/filter over the query string, not a
 *     substring regex (a `pref=` parameter must survive a `ref=` rule)
 *   - surviving parameters sorted (frontier dedup wants `?a=1&b=2` and
 *     `?b=2&a=1` equal; binary sort, engine-identical on ASCII params)
 *
 * Everything is a PURE Column expression (regexp + HOFs over the split
 * parameter array) — no UDF, map-only, streams unchanged; the identical
 * rules replay in ANSI SQL (list_filter/list_sort in the oracle).
 */
object UrlFunctions {

  // `(=|$)`, not `=`: valueless tracking params (`?fbclid`, `&ref`) must
  // strip too, or otherwise-identical frontier entries split on them.
  private val TrackingParam = "(?i)^(utm_[a-z0-9]+|fbclid|gclid|ref)(=|$)"

  /** Lowercased scheme of an absolute URL ('' if none). */
  def urlScheme(c: Column): Column =
    lower(regexp_extract(c, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))

  /** Canonical host: lowercase authority with `www.` and the scheme's
    * default port stripped. */
  def urlHost(c: Column): Column = {
    val raw = lower(regexp_extract(c, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val noWww = regexp_replace(raw, "^www\\.", "")
    when(urlScheme(c) === "http", regexp_replace(noWww, ":80$", ""))
      .when(urlScheme(c) === "https", regexp_replace(noWww, ":443$", ""))
      .otherwise(noWww)
  }

  /** Canonical URL under the rules above. Relative or schemeless inputs
    * pass through the path/query rules with an empty scheme://host. */
  def canonicalUrl(c: Column): Column = {
    val noFrag = regexp_replace(c, "#.*$", "")
    val rest = regexp_extract(noFrag, "^(?:[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)?(.*)$", 1)
    val path = regexp_extract(rest, "^([^?]*)", 1)
    val qstr = regexp_extract(rest, "\\?(.*)$", 1)
    // strip trailing slashes (`\z`: unlike `$`, never before a final newline)
    val pathNorm0 = regexp_replace(regexp_replace(path, "/{2,}", "/"), "/+\\z", "")
    val pathNorm = when(pathNorm0 === "", lit("/")).otherwise(pathNorm0)
    val kept = array_sort(filter(split(qstr, "&"),
      p => p =!= "" && !p.rlike(TrackingParam)))
    val qNorm = when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
      .otherwise(lit(""))
    val head = when(urlScheme(c) === "", lit(""))
      .otherwise(concat(urlScheme(c), lit("://"), urlHost(c)))
    concat(head, pathNorm, qNorm)
  }
}
