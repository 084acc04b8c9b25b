package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Scans, projection/rename, scalar transforms, filters, quality checks —
  * SURVEY.md §2.1 (S1-S4), §2.3 (P1-P5), §2.4 (F1-F4), §2.5 (T1-T6).
  *
  * Scan round-trips (JSON/CSV/ORC) land a scratch copy
  * ([[graft.Tables.land]]) and read it back through the engine's reader
  * path, the operator under test, preserving the reference's
  * semantics: JSON schema is inferred (transform_data.py:186-187), CSV
  * is header=true with NO inferSchema so every column lands as string
  * (transform_data.py:188-189).
  */
object Scalar {

  /** S1: JSON scan with schema inference (round-trip via JSON files). */
  def jsonScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = graft.Tables.land("json_scan", dir) { path =>
      t(s, dir, "orders").select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        .write.mode("overwrite").json(path)
    }
    s.read.json(p).select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
  }

  /** S2: CSV scan, header=true, NO inferSchema — all columns string. */
  def csvScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = graft.Tables.land("csv_scan", dir) { path =>
      t(s, dir, "region").write.mode("overwrite").option("header", "true").csv(path)
    }
    s.read.option("header", "true").csv(p).select($"r_regionkey", $"r_name")
  }

  /** S3/S4: parquet scan through format dispatch with pushed filter. */
  def parquetScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.format("parquet").load(s"$dir/lineitem.parquet")
      .filter($"l_quantity" < 10.0)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity")
  }

  /** S4 extension: ORC scan through format dispatch — the second
    * Spark-native columnar format; round-trip via the engine's ORC
    * writer (predicate pushdown and column pruning work as for
    * parquet).
    */
  def orcScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = graft.Tables.land("orc_scan", dir) { path =>
      t(s, dir, "nation").write.mode("overwrite").orc(path)
    }
    graft.sources.SourceReader.read(s, "orc", p)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
  }

  /** P1: flat column rename via config-style mapping. */
  def rename(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer").select(
      $"c_custkey".as("customer_id"),
      $"c_name".as("customer_name"),
      $"c_mktsegment".as("segment"),
      $"c_acctbal".as("balance"))
  }

  /** P2: nested-field extraction from a JSON string column. */
  def nestedExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events").select(
      $"event_id",
      get_json_object($"props", "$.k").cast("int").as("k"))
  }

  /** P3: struct-valued target mapping (build nested, then flatten back) —
    * the declared semantics the reference would crash on (SURVEY P3).
    */
  def nestedTarget(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer")
      .select($"c_custkey", struct($"c_name".as("name"), $"c_mktsegment".as("segment")).as("profile"))
      .select($"c_custkey", $"profile.name".as("name"), $"profile.segment".as("segment"))
  }

  /** P4: metadata columns (source_name literal + pinned processing time —
    * pinned to the pipeline start, not per-executor now(): SURVEY §7).
    */
  def metadataCols(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders").select(
      $"o_orderkey",
      lit("orders").as("source_name"),
      to_timestamp(lit("2026-01-01 00:00:00")).as("processed_timestamp"))
  }

  /** P5: partition-column derivation from the first *date-ish* column. */
  def partitionDerive(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val df = t(s, dir, "orders")
    val dateCol = df.columns.find(_.toLowerCase.contains("date")).get
    df.select(
      $"o_orderkey",
      year(col(dateCol)).cast("long").as("year"),
      month(col(dateCol)).cast("long").as("month"),
      dayofmonth(col(dateCol)).cast("long").as("day"))
  }

  /** T1: datetime parse (string → date, reference truncates to date). */
  def tDatetime(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .withColumn("raw", date_format($"o_orderdate", "yyyy-MM-dd HH:mm:ss"))
      .select($"o_orderkey", to_date($"raw", "yyyy-MM-dd HH:mm:ss").as("order_date"))
  }

  /** T2-T4: casts (string/integer/double). Spark cast(double→int)
    * truncates toward zero; the oracle uses trunc() to mirror it.
    */
  def tCasts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem").select(
      $"l_orderkey", $"l_linenumber",
      $"l_linenumber".cast("double").as("ln_dbl"),
      $"l_quantity".cast("int").as("qty_int"),
      $"l_orderkey".cast("string").as("key_str"))
  }

  /** T5/T6: trim + regexp_replace (+ upper/lower/substring/concat). */
  def tStrings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer").select(
      $"c_custkey",
      trim(concat(lit("  "), $"c_name", lit("  "))).as("trimmed"),
      regexp_replace($"c_name", "[0-9]+", "#").as("masked"),
      upper($"c_mktsegment").as("seg_upper"),
      lower($"c_name").as("name_lower"),
      substring($"c_name", 1, 8).as("name_prefix"),
      concat_ws("|", $"c_name", $"c_mktsegment").as("joined"))
  }

  /** F1: required-field conjunction filter (transform_data.py:92-103). */
  def requiredFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val required = Seq("o_orderkey", "o_custkey", "o_orderdate")
    t(s, dir, "orders")
      .filter(required.map(col(_).isNotNull).reduce(_ && _))
      .select($"o_orderkey", $"o_custkey")
  }

  /** F2: not_null quality check → violation counts per column. */
  def qcNotNull(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders").agg(
      count(when($"o_custkey".isNull, 1)).as("null_custkey"),
      count(when($"o_orderdate".isNull, 1)).as("null_orderdate"),
      count(lit(1)).as("n_rows"))
  }

  /** F3: unique quality check → number of violating key values. */
  def qcUnique(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dups = t(s, dir, "lineitem")
      .groupBy($"l_orderkey").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" > 1)
    dups.agg(count(lit(1)).as("n_violating_keys"))
  }

  /** F4: regex quality check → violation count. */
  def qcRegex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer").agg(
      count(when(!$"c_name".rlike("^[A-Za-z]+#[0-9]+$"), 1)).as("violations"),
      count(lit(1)).as("n_rows"))
  }

  /** F-family extension: referential-integrity check — lineitem rows
    * whose l_orderkey has no parent order
    * ([[graft.quality.QualityChecks.referentialViolations]]).
    */
  def qcRef(s: SparkSession, dir: String): DataFrame =
    graft.quality.QualityChecks.referentialViolations(
      t(s, dir, "lineitem"), "l_orderkey", t(s, dir, "orders"), "o_orderkey")

  /** F15: k-anonymity audit over customer quasi-identifiers (nation ×
    * segment × balance-kilobucket) at k=5 — the privacy gate before a
    * table ships as training data
    * ([[graft.quality.QualityChecks.kAnonymity]]). floor() on the
    * bucket division (not integer div): both engines floor negatives
    * down, where div/`//` disagree on truncation direction.
    */
  def qcKAnon(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.quality.QualityChecks.kAnonymity(
      t(s, dir, "customer"),
      Seq($"c_nationkey", $"c_mktsegment",
        floor($"c_acctbal" / 1000).cast("int").as("bal_kb")),
      5)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "json_scan" -> (jsonScan _),
    "csv_scan" -> (csvScan _),
    "parquet_scan" -> (parquetScan _),
    "orc_scan" -> (orcScan _),
    "rename" -> (rename _),
    "nested_extract" -> (nestedExtract _),
    "nested_target" -> (nestedTarget _),
    "metadata_cols" -> (metadataCols _),
    "partition_derive" -> (partitionDerive _),
    "t_datetime" -> (tDatetime _),
    "t_casts" -> (tCasts _),
    "t_strings" -> (tStrings _),
    "required_filter" -> (requiredFilter _),
    "qc_not_null" -> (qcNotNull _),
    "qc_unique" -> (qcUnique _),
    "qc_regex" -> (qcRegex _),
    "qc_ref" -> (qcRef _),
    "qc_k_anon" -> (qcKAnon _))

  val oracle: Map[String, String] = Map(
    "json_scan" -> "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
    "csv_scan" -> "SELECT CAST(r_regionkey AS VARCHAR) AS r_regionkey, r_name FROM region",
    "parquet_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity < 10""".stripMargin,
    "orc_scan" -> "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "rename" ->
      """SELECT c_custkey AS customer_id, c_name AS customer_name,
        | c_mktsegment AS segment, c_acctbal AS balance FROM customer""".stripMargin,
    "nested_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events""".stripMargin,
    "nested_target" ->
      "SELECT c_custkey, c_name AS name, c_mktsegment AS segment FROM customer",
    "metadata_cols" ->
      """SELECT o_orderkey, 'orders' AS source_name,
        | TIMESTAMP '2026-01-01 00:00:00' AS processed_timestamp FROM orders""".stripMargin,
    "partition_derive" ->
      """SELECT o_orderkey,
        | CAST(year(o_orderdate) AS BIGINT) AS year,
        | CAST(month(o_orderdate) AS BIGINT) AS month,
        | CAST(day(o_orderdate) AS BIGINT) AS day
        |FROM orders""".stripMargin,
    "t_datetime" ->
      "SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date FROM orders",
    "t_casts" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(l_linenumber AS DOUBLE) AS ln_dbl,
        | CAST(trunc(l_quantity) AS INTEGER) AS qty_int,
        | CAST(l_orderkey AS VARCHAR) AS key_str
        |FROM lineitem""".stripMargin,
    "t_strings" ->
      """SELECT c_custkey,
        | trim('  ' || c_name || '  ') AS trimmed,
        | regexp_replace(c_name, '[0-9]+', '#', 'g') AS masked,
        | upper(c_mktsegment) AS seg_upper,
        | lower(c_name) AS name_lower,
        | substring(c_name, 1, 8) AS name_prefix,
        | concat_ws('|', c_name, c_mktsegment) AS joined
        |FROM customer""".stripMargin,
    "required_filter" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
        |  AND o_orderdate IS NOT NULL""".stripMargin,
    "qc_not_null" ->
      """SELECT count(CASE WHEN o_custkey IS NULL THEN 1 END) AS null_custkey,
        | count(CASE WHEN o_orderdate IS NULL THEN 1 END) AS null_orderdate,
        | count(*) AS n_rows
        |FROM orders""".stripMargin,
    "qc_unique" ->
      """SELECT count(*) AS n_violating_keys FROM (
        | SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1)""".stripMargin,
    "qc_regex" ->
      """SELECT count(CASE WHEN NOT regexp_matches(c_name, '^[A-Za-z]+#[0-9]+$') THEN 1 END) AS violations,
        | count(*) AS n_rows
        |FROM customer""".stripMargin,
    "qc_ref" ->
      """SELECT (SELECT count(*) FROM lineitem
        |        WHERE l_orderkey IS NOT NULL
        |          AND l_orderkey NOT IN (SELECT o_orderkey FROM orders
        |                                 WHERE o_orderkey IS NOT NULL)) AS n_orphans,
        |       (SELECT count(*) FROM lineitem) AS n_rows""".stripMargin,
    "qc_k_anon" ->
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000) AS INT) AS bal_kb,
        |    count(*) AS grp_n
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT
        |  count(CASE WHEN grp_n < 5 THEN 1 END) AS violating_groups,
        |  CAST(coalesce(sum(CASE WHEN grp_n < 5 THEN grp_n END), 0) AS BIGINT)
        |    AS violating_rows,
        |  count(*) AS n_groups,
        |  min(grp_n) AS min_group,
        |  max(grp_n) AS max_group
        |FROM g""".stripMargin)
}
