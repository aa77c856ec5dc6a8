package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest operators mirroring the reference's source-import surface:
  *
  *  - S8  BibTeX (`Sources.fs:223-247`): regex-defined record shape —
  *    one `@article{...}` per record with fields author, title, journal,
  *    year, volume, number, pages, month;
  *  - S9  Colandr screening CSV (`Sources.fs:337-366`): header CSV
  *    filtered to `citation_screening_status == "included"`;
  *  - S12 digitised data-table TSV (`Datasets.fs:47-85`): wide matrix
  *    (first column = depth/age index, remaining columns = morphotypes)
  *    unpivoted to long format `(depth, morphotype, value)`.
  *
  * All three are expressed as DataFrame transformations so they scale to
  * arbitrary corpus sizes: record splitting via `split`+`explode`, field
  * extraction via `regexp_extract` (codegen'd), unpivot via `stack`.
  */
object Ingest {

  // ---------------------------------------------------------------- S8

  /** One parsed BibTeX record. */
  final case class BibRecord(citekey: String, author: String, title: String,
                             journal: String, year: Option[Int], volume: String,
                             number: String, pages: String, month: String)

  // braced values may contain commas AND span lines (BibTeX wraps long
  // titles/author lists); (?s) lets `.` cross newlines, (?m)`$` ends the
  // value at the first line-terminating `}` — nested groups like
  // `{The {BIG} title}` and double-brace `{{Corporate Name}}` survive
  // because backtracking must keep the closing braces balanced up to the
  // line end (the RECORD-closing brace is stripped before matching, see
  // parseBibtexCol). Unbraced values (`year = 1987,`) are branch two.
  private val fieldPattern = (field: String) =>
    s"(?smi)^\\s*$field\\s*=\\s*(?:\\{(.*?)\\}|([^{][^,\\n]*)),?\\s*$$"

  /** Parse a BibTeX string into records — the DataFrame path: split on
    * `@` record starts, explode, regex-extract each field (reference
    * `Sources.fs:227`; exact record shape in FIXTURES §5).
    */
  def parseBibtex(spark: SparkSession, bibtex: String): DataFrame = {
    import spark.implicits._
    Seq(bibtex).toDF("raw").transform(parseBibtexCol)
  }

  /** Same, over a DataFrame with a `raw` column holding BibTeX text (e.g.
    * from `spark.read.option("wholetext", true).text(...)`).
    */
  def parseBibtexCol(df: DataFrame): DataFrame = {
    val records = df
      .select(explode(split(col("raw"), "(?=@[A-Za-z]+\\s*\\{)")).as("rec"))
      .filter(col("rec").rlike("^@[A-Za-z]+\\s*\\{"))
      // strip the RECORD-closing brace so a final field's value brace is
      // unambiguous (`month = {jan}}` → `month = {jan}`) without breaking
      // double-braced values like `{{Corporate Name}}`
      .withColumn("rec", regexp_replace(col("rec"), "\\}\\s*$", ""))
    // braced (group 1) or bare (group 2) value; wrapped lines collapse to
    // a single space, per BibTeX whitespace semantics
    def fieldValue(field: String): org.apache.spark.sql.Column = {
      val braced = regexp_extract(col("rec"), fieldPattern(field), 1)
      val bare = regexp_extract(col("rec"), fieldPattern(field), 2)
      trim(regexp_replace(when(braced =!= "", braced).otherwise(bare), "\\s+", " "))
    }
    records.select(
      regexp_extract(col("rec"), "^@[A-Za-z]+\\s*\\{\\s*([^,]+),", 1).as("citekey"),
      fieldValue("author").as("author"),
      fieldValue("title").as("title"),
      fieldValue("journal").as("journal"),
      // anchored + case-insensitive like the other fields (BibTeX field
      // names are case-insensitive; unanchored forms could match inside
      // another field's value)
      regexp_extract(col("rec"), "(?mi)^\\s*year\\s*=\\s*\\{?(\\d{1,4})\\}?", 1)
        .cast("int").as("year"),
      fieldValue("volume").as("volume"),
      fieldValue("number").as("number"),
      regexp_extract(col("rec"), "(?mi)^\\s*pages\\s*=\\s*\\{?(\\d+\\s*--?\\s*\\d+)\\}?", 1)
        .as("pages"),
      fieldValue("month").as("month")
    )
  }

  // ---------------------------------------------------------------- S9

  /** Colandr screening export: keep only included citations and project
    * the source fields the reference consumes (FIXTURES §6).
    */
  def colandrIncluded(df: DataFrame): DataFrame =
    df.filter(col("citation_screening_status") === "included")
      .select(
        col("citation_title").as("title"),
        col("citation_abstract").as("abstract"),
        col("citation_authors").as("authors"),
        col("citation_journal_name").as("journal"),
        col("citation_journal_volume").as("volume"),
        col("citation_pub_year").cast("int").as("year"))

  // --------------------------------------------------------------- S12

  /** F11 — classify the index column header (reference `Datasets.fs:35-44`). */
  def indexColumnType(header: String): String = header.trim.toLowerCase match {
    case "depth" => "Depths"
    case "bp" | "year before present" => "AgesBP"
    case "cal yr bp" | "calendar year before present" => "AgesCalYrBP"
    case "ad" => "AgesAD"
    case "bc" => "AgesBC"
    case other => s"Unknown($other)"
  }

  /** Wide digitised data table → long format `(depth, morphotype, value)`
    * via `stack` — the scalable shape for per-taxon analytics (SURVEY
    * §1.3: `DataTable` → long-format DataFrame).
    */
  def dataTableLong(wide: DataFrame): DataFrame = {
    val indexCol = wide.columns.head
    val morphs = wide.columns.tail
    // native unpivot (no SQL-string assembly — morphotype headers with
    // quotes/backticks are just column names); exact-name quoting so a
    // header containing a backtick is data, not attribute syntax
    def exact(n: String) = col("`" + n.replace("`", "``") + "`")
    wide.unpivot(Array(exact(indexCol).as("depth")), morphs.map(exact).toArray,
        "morphotype", "value")
      .select(col("depth").cast("double"), col("morphotype"), col("value").cast("double"))
  }

  /** A5 — `DataTable.depths()` equivalence: pivot long form back to a
    * per-depth map (reference `Datasets.fs:92-95`).
    */
  def depthsPivot(long: DataFrame): DataFrame =
    long.groupBy("depth").pivot("morphotype").agg(first("value")).orderBy("depth")

  /** F12 — `DataTable.isValid` (reference `Datasets.fs:87-90`): the matrix
    * is rectangular — in long form, a complete (depth × morphotype) grid
    * with no duplicate cells. Two aggregate jobs, no collect of the data.
    */
  def dataTableShapeOk(long: DataFrame): Boolean = {
    val agg = long.agg(
      count(lit(1)).as("n"),
      countDistinct(col("depth")).as("d"),
      countDistinct(col("morphotype")).as("m")).head()
    val (n, d, m) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    n == d * m &&
      long.groupBy("depth", "morphotype").count().filter(col("count") > 1).isEmpty
  }

  // ------------------------------------------------------------- JSONL

  /** The JSONL document schema every training-data interchange uses:
    * one JSON object per line with an id, the text payload, and flat
    * metadata.
    */
  val jsonlDocSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType)))

  /** Parse JSONL document lines (schema-on-read): `from_json` against
    * [[jsonlDocSchema]] in FAILFAST-off mode — a malformed line yields a
    * null struct, surfaced as `valid = false` instead of killing the
    * job, which is how a 100 TB crawl ingest must behave (corrupt lines
    * are counted and quarantined, never fatal). Map-side only.
    *
    * The parse sits behind a single-element `explode(array(...))`:
    * predicate pushdown cannot cross a generator, so a downstream
    * `filter($"valid")` stays ABOVE the parse instead of being inlined
    * as extra `from_json` calls in a scan-adjacent Filter (observed: the
    * plain-projection form planned 3 parses per line — two in the pushed
    * filter, one in the field extraction). One parse per line is the
    * difference between reading a 100 TB crawl once and reading it three
    * times; PlanAuditSpec pins the single-`from_json` plan.
    */
  def parseJsonl(lines: DataFrame, line: org.apache.spark.sql.Column): DataFrame =
    lines
      .select(explode(array(from_json(line, jsonlDocSchema))).as("j"))
      // from_json yields a struct of all-null fields (not a null struct)
      // for malformed input; a real document must carry id + text
      .select(col("j.doc_id").as("doc_id"), col("j.text").as("text"),
        col("j.source").as("source"),
        (col("j.doc_id").isNotNull && col("j.text").isNotNull).as("valid"))
}
