package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's scalar filter registry, re-expressed as Catalyst columns
  * with *exact* semantics (`/root/reference/scrape/scrape.go:87-132`):
  *
  *   - `trim` / `lowercase` / `uppercase`: straight built-ins (F1-F3).
  *   - `capitalize`: Go `strings.Title` parity (F4) — title-case every
  *     letter that follows a non-letter; the REST of each word is left
  *     untouched (Spark's `initcap` lowercases it, and splits only on
  *     whitespace — not parity). The `go_title` kernel (Kernels.GoTitle).
  *   - `regex`: compile param; auto-wrap in one capture group if none;
  *     error if >1 group; all group-1 matches joined `"m1;m2;…;"` (note
  *     the TRAILING `;` after every match); no match -> `""` (F5,
  *     `scrape.go:100-127`).
  *   - empty input: any filter on `""` errors out in the reference and the
  *     value passes through UNfiltered (F6, `scrape.go:88-90`) —
  *     reproduced with a `when` guard.
  *   - unknown filter name: hard error at plan time (F7, `scrape.go:128`).
  */
object DfkFilters {

  val Names: Set[String] = Set("trim", "lowercase", "uppercase", "capitalize", "regex")

  /** Go strings.Title word-boundary rule: a letter beginning a "word"
    * (= preceded by a non-letter) is upper-cased; everything else kept. */
  def goTitle(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var prevLetter = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val isL = Character.isLetter(c)
      sb.append(if (isL && !prevLetter) Character.toTitleCase(c) else c)
      prevLetter = isL
      i += 1
    }
    sb.toString
  }

  /** Validate + normalize a regex param per F5: wrap in one group if the
    * pattern has none; reject >1 group. Throws at *plan* time like the
    * reference errors at filter-apply time. */
  def normalizeRegex(param: String): String = {
    val groups = java.util.regex.Pattern.compile(param).matcher("").groupCount()
    if (groups > 1)
      throw new IllegalArgumentException(
        s"regex filter: only one capture group allowed, got $groups in: $param")
    if (groups == 0) s"($param)" else param
  }

  /** Pure-Scala reference implementation (used by ScalaCheck parity tests
    * against the Column path). `null`-safe: null passes through. */
  def applyScala(name: String, param: String, in: String): String = {
    if (in == null) return null
    if (in.isEmpty) return in // F6 empty passthrough
    name match {
      case "trim"       => in.trim
      case "lowercase"  => in.toLowerCase
      case "uppercase"  => in.toUpperCase
      case "capitalize" => goTitle(in)
      case "regex" =>
        val p = java.util.regex.Pattern.compile(normalizeRegex(param))
        val m = p.matcher(in)
        val sb = new StringBuilder
        while (m.find()) { sb.append(m.group(1)).append(';') }
        sb.toString
      case other => throw new IllegalArgumentException(s"unknown filter: $other")
    }
  }

  /** Column transform for one (name, param) filter, empty-passthrough
    * included. Unknown names throw at plan construction (F7). */
  def filter(name: String, param: String = ""): Column => Column = {
    val core: Column => Column = name match {
      case "trim"       => trim(_)
      case "lowercase"  => lower(_)
      case "uppercase"  => upper(_)
      case "capitalize" => Kernels.GoTitle(_)
      case "regex" =>
        val pat = normalizeRegex(param)
        c => {
          val ms = regexp_extract_all(c, lit(pat), lit(1))
          // each match gets a trailing ';' -> join with ';' then append one
          when(size(ms) > 0, concat(array_join(ms, ";"), lit(";"))).otherwise(lit(""))
        }
      case other => throw new IllegalArgumentException(s"unknown filter: $other")
    }
    c => when(c.isNull || c === "", c).otherwise(core(c))
  }

  /** Compose a filter chain left-to-right (reference applies in order,
    * `scrape/scrape.go:79-84`). */
  def chain(filters: Seq[(String, String)]): Column => Column =
    filters.map { case (n, p) => filter(n, p) }
      .foldLeft(identity[Column] _)((acc, f) => acc.andThen(f))
}
