package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Declarative column-extraction spec — the Scala-native descendant of the
  * reference's `ColumnConfig` 4-tuple (name, path, cleaning_func, type)
  * (/root/reference/cliqz_etl/testpilot_data.py:10-15) and `DataFrameConfig`
  * (testpilot_data.py:17-31).
  *
  * Key architectural difference (SURVEY.md §3/E1): the reference compiles its
  * config to a row-at-a-time Python `map(ping_to_row)` over an RDD, forcing a
  * JVM↔Python boundary per row. Here the spec compiles to a single
  * `select(...)` projection of Column expressions, so the whole extract stage
  * stays inside one Catalyst plan — column pruning, predicate pushdown and
  * whole-stage codegen all apply, and nothing leaves Tungsten rows.
  */
final case class ColumnSpec(
    name: String,
    source: Column,
    castTo: Option[DataType] = None,
    clean: Column => Column = identity,
    jsonField: Option[String] = None) {

  /** Compile to one output column: clean → (try-)cast → alias.
    * Cast uses TRY semantics so any malformed cell degrades to NULL — the
    * reference's `try: ... except: return None` per-cell contract
    * (testpilot_data.py:57-61), expressed once at plan level instead of per
    * row. A JSON column compiles only inside a [[FrameConfig]], which
    * parses its payload first. */
  def compile: Column = {
    require(jsonField.isEmpty, s"JSON column $name compiles in a FrameConfig")
    val cleaned = clean(source)
    castTo.fold(cleaned)(dt => cleaned.try_cast(dt)).as(name)
  }
}

object ColumnSpec {
  /** Reference-style `/`-separated path over nested structs
    * (`get_pings_properties` paths like "environment/settings/locale",
    * testpilot_data.py:41,126). */
  def path(p: String): Column =
    p.split('/').toList match {
      case head :: tail => tail.foldLeft(col(head))(_.getField(_))
      case Nil          => throw new IllegalArgumentException("empty path")
    }

  /** A top-level `field` of the JSON string column `payload` (the
    * reference's JSON-blob properties, testpilot_data.py:128-134), then
    * `clean` and the try-cast. [[FrameConfig]] parses each payload ONCE
    * per row for all of its fields — one `json_tuple` generator — so a
    * post-filter on the field reads the parsed value instead of parsing
    * again. Missing key, JSON null, invalid or empty payload and a null
    * payload all give NULL; a nested object or array gives its JSON
    * text; a string gives its unquoted value. Unlike `get_json_object`,
    * a DUPLICATE key takes its LAST value (`{"k":1,"k":2}` gives 2, as
    * Python's `json.loads` does), not its first. */
  def json(name: String, payload: Column, field: String,
           castTo: Option[DataType] = None,
           clean: Column => Column = identity): ColumnSpec =
    ColumnSpec(name, payload, castTo, clean, Some(field))
}

/** A frame-level extraction config: row pre-filter (the reference's
  * `ping_filter`, testpilot_data.py:20,41-42), projection specs, and a
  * post-projection filter (the reference's SQL-string `.filter(...)`,
  * testpilot_data.py:138,167). */
final case class FrameConfig(
    columns: Seq[ColumnSpec],
    preFilter: Option[Column] = None,
    postFilter: Option[Column] = None) {

  /** Apply as one Catalyst plan: filter → parse → select → filter.
    *
    * The parse step is one `json_tuple` generator per distinct JSON
    * payload ([[ColumnSpec.json]]) over all of that payload's fields; a
    * post-filter on a parsed field cannot move below it, so each payload
    * is parsed once per row, while filters on other columns still push
    * down to the scan.
    *
    * Missing-path semantics follow the reference: `get_pings_properties`
    * fills paths absent from a ping with None rather than failing
    * (moztelemetry path extraction; consumed at testpilot_data.py:41,56),
    * so a [[ColumnSpec]] whose source (a JSON column's payload) does not
    * resolve against THIS frame's schema compiles to a typed NULL column
    * instead of an AnalysisException — one schema probe per column at
    * plan-build time, nothing at run time. */
  def apply(df: DataFrame): DataFrame = {
    val pre = preFilter.fold(df)(df.filter)
    def resolves(c: Column): Boolean =
      try { pre.select(c); true }
      catch { case _: org.apache.spark.sql.AnalysisException => false }
    val fields = columns.collect {
      case ColumnSpec(_, p, _, _, Some(f)) => (p, f)
    }.distinct
    val payloads = fields.map(_._1).distinct.filter(resolves)
    // (payload, field) -> the generator output column holding its value
    val slot = fields.filter(pf => payloads.contains(pf._1)).zipWithIndex
      .map { case (pf, i) => pf -> s"__json$i" }.toMap
    val parsed = payloads.foldLeft(pre) { (frame, p) =>
      val outs = fields.filter(_._1 == p)
      frame.select(col("*"),
        json_tuple(p, outs.map(_._2): _*).as(outs.map(slot)))
    }
    val compiled = columns.map { c =>
      val spec = c.jsonField match {
        case Some(f) => slot.get((c.source, f))
          .map(n => c.copy(source = col(n), jsonField = None))
        case None => Some(c).filter(s => resolves(s.compile))
      }
      spec.fold {
        val nul = lit(null)
        c.castTo.fold(nul)(nul.cast).as(c.name)
      }(_.compile)
    }
    val projected = parsed.select(compiled: _*)
    postFilter.fold(projected)(projected.filter)
  }
}

/** Null-on-error cleaning combinators (reference `build_cell` semantics,
  * testpilot_data.py:53-63) expressed as total Column→Column functions. All
  * are built-in expressions — codegen'd, no UDFs (SURVEY.md §2.6 C1-C15). */
object Clean {
  /** C1: `split(s, delim)[0]` — prefix before delimiter
    * (testpilot_data.py:109-111,175). Null-safe: null in → null out. */
  def splitHead(delim: String): Column => Column =
    c => split(c, java.util.regex.Pattern.quote(delim)).getItem(0)

  /** C2: base64 decode (testpilot_data.py:102). */
  val b64decode: Column => Column = unbase64

  /** C4: strip trailing NUL padding then drop a 4-byte head and tail
    * (`.rstrip("\0")[4:-4]`, testpilot_data.py:102). Yields null (not a
    * garbled slice) when fewer than 8 chars remain. */
  val stripPadAndTrim: Column => Column = { c =>
    val stripped = regexp_replace(c, "\\u0000+$", "")
    when(length(stripped) > 8, stripped.substr(lit(5), length(stripped) - 8))
  }

  /** C8: membership → boolean (testpilot_data.py:177,186-187). */
  def memberOf(values: String*): Column => Column = c => c.isin(values: _*)

  /** C13: UUID validity (reference parses with `uuid.UUID`,
    * profile_daily.py:70-77) — a codegen'd regex beats a UDF. */
  val isValidUuid: Column => Column =
    c => c.rlike("^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$")

  /** C14: null-propagating apply — the reference's `option()` combinator
    * (profile_daily.py:200-206). Spark expressions already propagate null;
    * this is for cleaners whose output must stay null when input is null. */
  def whenPresent(f: Column => Column): Column => Column =
    c => when(c.isNotNull, f(c))
}
