package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** MQTT-style topic filters for trigger routing (R3) — the reference's
  * bus keys its trigger subscriptions by topic filter with the standard
  * MQTT 3.1.1 wildcards (public OASIS MQTT 3.1.1 spec §4.7; reference
  * mount empty, SURVEY.md §0):
  *
  *   - levels are `/`-separated;
  *   - `+` matches exactly ONE level (`app/+/u3` matches
  *     `app/view/u3`, not `app/a/b/u3`);
  *   - `#` must be the last level and matches ANY number of levels
  *     INCLUDING the parent (`app/#` matches `app` and `app/a/b`).
  *
  * ONE definition, three projections — so routing, plan predicates and
  * the DuckDB oracle can never drift:
  *
  *   - [[matches]]: driver-side routing (which templates fire for a
  *     concrete topic);
  *   - [[toRegex]]: the anchored regex both SQL engines evaluate
  *     (RE2/Java-portable subset: `[^/]*`, `(/.*)?`, escaped literals);
  *   - [[predicate]]: the Catalyst Column form — `rlike` against the
  *     LITERAL regex, which Spark's RLike compiles once per task and
  *     evaluates inside whole-stage codegen (no UDF, no per-row regex
  *     compilation).
  */
object TopicMatch {

  /** Validate a filter per MQTT 3.1.1 §4.7.1: non-empty, `#` only as
    * the final complete level, `+` only as a complete level. */
  def validate(pattern: String): Unit = {
    require(pattern.nonEmpty, "empty topic filter")
    val ls = levels(pattern)
    ls.zipWithIndex.foreach { case (l, i) =>
      if (l.contains("#"))
        require(l == "#" && i == ls.length - 1,
          s"'#' must be the final complete level: $pattern")
      if (l.contains("+"))
        require(l == "+", s"'+' must be a complete level: $pattern")
    }
  }

  /** Driver-side match — the routing decision itself. */
  def matches(topic: String, pattern: String): Boolean =
    matches(levels(topic), levels(pattern))

  /** [[matches]] on topic and filter already split by [[levels]]: a
    * router splits each filter once at subscribe time and each topic
    * once per message. */
  def matches(topic: Array[String], filter: Array[String]): Boolean =
    if (filter.nonEmpty && filter.last == "#") {
      val k = filter.length - 1
      topic.length >= k &&
        (0 until k).forall(i => filter(i) == "+" || filter(i) == topic(i))
    } else
      topic.length == filter.length &&
        filter.indices.forall(i => filter(i) == "+" || filter(i) == topic(i))

  /** Anchored regex equivalent — portable across Java regex (Spark
    * `rlike`) and RE2 (DuckDB `regexp_matches`): metacharacters in
    * literal levels are backslash-escaped individually (no `\Q…\E`,
    * which RE2 parses but some engines don't). */
  def toRegex(pattern: String): String = {
    val p = levels(pattern)
    val (body, tail) =
      if (p.lastOption.contains("#"))
        (p.dropRight(1), "(/.*)?")
      else (p, "")
    val segs = body.map {
      // '[^/]*', not '+': MQTT §4.7.3 — a '+' matches a zero-length
      // level too ("sport/+" matches "sport/")
      case "+" => "[^/]*"
      case lit => lit.flatMap(c =>
        if ("\\^$.|?*+()[]{}".contains(c)) s"\\$c" else c.toString)
    }
    if (body.isEmpty) "^.*$" // bare "#": every topic
    else "^" + segs.mkString("/") + tail + "$"
  }

  /** Catalyst predicate: does `topicCol` match `pattern`? */
  def predicate(topicCol: Column, pattern: String): Column = {
    validate(pattern)
    topicCol.rlike(toRegex(pattern))
  }

  /** A topic or filter's `/`-separated levels, empty ones kept. */
  def levels(s: String): Array[String] = s.split("/", -1)
}
