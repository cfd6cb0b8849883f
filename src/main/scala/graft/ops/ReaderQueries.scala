package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity readers (SURVEY.md §2.1) that Spark has no native
  * format for, re-expressed as pure DataFrame pipelines over `text` /
  * `csv` sources. Each query SYNTHESIZES its input file deterministically
  * from a testdata table, runs the reader, and lets the DuckDB oracle
  * recompute the expected rows straight from the source table — so the
  * parse logic itself is driver-verified.
  */
object ReaderQueries {

  import Tables.tbl

  /** S5: VCF reader — skip `##` preamble, locate the literal `#CHROM`
    * header, then parse tab-separated records
    * (ref: upload_data/Submissions/round1/upload_round1_variants.R:29-35
    * `fread(skip = "#CHROM", sep = "\t")`).
    */
  def readVcf(spark: SparkSession, path: String): DataFrame = {
    val lines = spark.read.text(path)
    // drop meta lines; the header names the columns but is fixed per spec
    val records = lines.filter(!col("value").startsWith("#"))
    val parts = split(col("value"), "\t")
    records.select(
      parts.getItem(0).as("chrom"),
      parts.getItem(1).cast("long").as("pos"),
      parts.getItem(2).as("id"),
      parts.getItem(3).as("ref"),
      parts.getItem(4).as("alt"))
  }

  /** S3: CSV reader with an NA vocabulary (ref: utils.R:11-17, null vocab
    * `c("NA","na","n/a","")` round1/make_round1_prediction_files.R:14).
    */
  def readCsvNaVocab(spark: SparkSession, path: String,
      naVocab: Seq[String] = Seq("NA", "na", "n/a", "")): DataFrame = {
    val raw = spark.read.option("header", "true").csv(path)
    raw.select(raw.columns.map { c =>
      when(col(c).isin(naVocab: _*), lit(null)).otherwise(col(c)).as(c)
    }.toSeq: _*)
  }

  /** Deterministic reference-shaped YAML documents synthesized from the
    * orders table: two steps, one with a key_parameters list (one scalar
    * `value` param, one `values`-list param), plus `null` tokens to
    * exercise the NA vocabulary. The oracle reconstructs both parsed
    * tables straight from orders.
    */
  private def yamlDocs(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders").filter(col("o_orderkey") < 1000)
      .select(col("o_orderkey").cast("string").as("sid"),
        concat(
          lit("alignment:\n  used: "),
          when(col("o_orderstatus") === "O", "true").otherwise("false"),
          lit("\n  changed: null\n  comment: "), col("o_orderpriority"),
          lit("\n  key_parameters:\n  - name: threshold\n    value: "),
          col("o_totalprice").cast("string"),
          lit("\n    unit: usd\n  - name: tags\n    values:\n    - "),
          col("o_orderpriority"),
          lit("\n    - cust-"), col("o_custkey").cast("string"),
          lit("\n    relationship: in\n" +
            "ranking:\n  used: false\n  changed: true\n  comment: null\n"))
          .as("doc"))

  /** S7-style flat document parse as a generator (UDTF analog): one
    * document string → N key/value rows. Implemented as explode over a
    * pure expression parse — no Catalyst Generator needed (SURVEY.md
    * §2.12). The full nested two-table fan-out is [[graft.sources.YamlDoc]].
    */
  def parseDocKv(df: DataFrame, docCol: String): DataFrame =
    df.select(col("*"),
        explode(split(col(docCol), "\n")).as("_line"))
      .filter(col("_line").contains(": "))
      .withColumn("key", split(col("_line"), ": ").getItem(0))
      .withColumn("value", split(col("_line"), ": ").getItem(1))
      .drop("_line", docCol)

  def defs: Seq[QueryDef] = Seq(

    // S5: part table → synthetic VCF text file → header-skip parse
    QueryDef(
      "s5_vcf_reader",
      (s, dir) => {
        val vcfDir = graft.core.Fs.scratchDir("vcf") + "/f"
        val body = tbl(s, dir, "part").select(
          concat_ws("\t", col("p_brand"), col("p_partkey"), col("p_name"),
            col("p_type"), upper(col("p_name"))).as("value"))
        val header = s.range(1).select(
          lit("##fileformat=VCFv4.2\n##source=graft\n#CHROM\tPOS\tID\tREF\tALT")
            .as("value"))
        // parallel multi-file write: the reader's preamble skip is
        // per-line, so record files without the header parse identically
        // (round-1 bench: the coalesce(1) single-task write was 2.2 s of
        // pure harness cost)
        header.unionAll(body).write.mode("overwrite").text(vcfDir)
        readVcf(s, vcfDir)
      },
      Some("""SELECT p_brand AS chrom, p_partkey AS pos, p_name AS id,
             |       p_type AS ref, upper(p_name) AS alt
             |FROM part""".stripMargin)),

    // S3: nation table → CSV with injected NA markers → null-vocab read
    QueryDef(
      "s3_csv_na_vocab",
      (s, dir) => {
        val csvDir = graft.core.Fs.scratchDir("csvna") + "/f"
        tbl(s, dir, "nation").select(
          col("n_nationkey").cast("string").as("n_nationkey"),
          // every third name becomes an NA marker
          when(col("n_nationkey") % 3 === 0, "n/a")
            .otherwise(col("n_name")).as("n_name"),
          col("n_regionkey").cast("string").as("n_regionkey"))
          // multi-file CSV: the writer emits a header per part file and
          // the header-aware reader skips each — no single-task funnel
          .write.mode("overwrite")
          .option("header", "true").csv(csvDir)
        readCsvNaVocab(s, csvDir)
          .select(col("n_nationkey").cast("long").as("n_nationkey"),
            col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
             |       CASE WHEN n_nationkey % 3 = 0 THEN NULL ELSE n_name END AS n_name,
             |       CAST(n_regionkey AS BIGINT) AS n_regionkey
             |FROM nation""".stripMargin)),

    // S7 (real shape): nested YAML documents → TWO typed tables (Steps +
    // Parameters) via the typed-flatMap UDTF in graft.sources.YamlDoc —
    // per-key cast registry, "null"→NA vocabulary, values-list collapse
    // (ref: round3/make_round3_yaml_files.R:45-90, registry :12-20).
    // Documents are synthesized deterministically from orders so the
    // DuckDB oracle can reconstruct both outputs from the source table.
    QueryDef(
      "s7_steps",
      (s, dir) => {
        import s.implicits._
        yamlDocs(s, dir).as[(String, String)]
          .flatMap { case (sid, doc) => graft.sources.YamlDoc.parse(sid, doc)._1 }
          .toDF()
      },
      Some("""SELECT CAST(o_orderkey AS VARCHAR) AS submission_id,
             |       'alignment' AS step, (o_orderstatus = 'O') AS used,
             |       CAST(NULL AS BOOLEAN) AS changed,
             |       o_orderpriority AS comment
             |FROM orders WHERE o_orderkey < 1000
             |UNION ALL
             |SELECT CAST(o_orderkey AS VARCHAR), 'ranking', false, true,
             |       CAST(NULL AS VARCHAR)
             |FROM orders WHERE o_orderkey < 1000""".stripMargin)),

    QueryDef(
      "s7_params",
      (s, dir) => {
        import s.implicits._
        yamlDocs(s, dir).as[(String, String)]
          .flatMap { case (sid, doc) => graft.sources.YamlDoc.parse(sid, doc)._2 }
          .toDF()
      },
      Some("""SELECT CAST(o_orderkey AS VARCHAR) AS submission_id,
             |       'alignment' AS step, 'threshold' AS name,
             |       o_totalprice AS value, CAST(NULL AS VARCHAR) AS "values",
             |       'usd' AS unit, CAST(NULL AS VARCHAR) AS relationship
             |FROM orders WHERE o_orderkey < 1000
             |UNION ALL
             |SELECT CAST(o_orderkey AS VARCHAR), 'alignment', 'tags',
             |       CAST(NULL AS DOUBLE),
             |       o_orderpriority || ';cust-' || o_custkey,
             |       CAST(NULL AS VARCHAR), 'in'
             |FROM orders WHERE o_orderkey < 1000""".stripMargin)),

    // S7 (generic kv): flat `key: value` documents → exploded kv rows —
    // the lightweight single-table variant kept alongside the full
    // two-table fan-out above
    QueryDef(
      "s7_doc_parse",
      (s, dir) => {
        val docs = tbl(s, dir, "orders").filter(col("o_orderkey") < 1000)
          .select(col("o_orderkey"),
            concat(lit("status: "), col("o_orderstatus"), lit("\n"),
              lit("priority: "), col("o_orderpriority")).as("doc"))
        parseDocKv(docs, "doc")
      },
      Some("""SELECT o_orderkey, 'status' AS key, o_orderstatus AS value
             |FROM orders WHERE o_orderkey < 1000
             |UNION ALL
             |SELECT o_orderkey, 'priority' AS key, o_orderpriority AS value
             |FROM orders WHERE o_orderkey < 1000""".stripMargin)),

    // S9: zip-archive extraction (ref: round3_setup/
    // extract_submission_files.R:43-51). The harness packs supplier rows
    // into one deterministic zip per partition (executor-side writes — the
    // scale shape: each task stages its own archive), then the reader
    // fans archives out to member rows via binaryFile + flatMap.
    QueryDef(
      "s9_zip_extract",
      (s, dir) => {
        import s.implicits._
        // staging root honors graft.scratch.dir (set it to a shared mount
        // under spark-submit so executor-side zip writes land where the
        // driver-side binaryFile scan below will look — round-2 verdict #7;
        // defaults to java.io.tmpdir, correct for local mode)
        val zipDir = graft.core.Fs.scratchDir("zips")
        // ship the session's Hadoop conf to the writing tasks so archive
        // staging honors spark.hadoop.* (defaultFS, credentials) — the
        // serialized kv form avoids any non-public conf wrapper
        val hconf = graft.cdc.ParquetRowCodec.hadoopConfDelta(s)
        tbl(s, dir, "supplier")
          .select(col("s_suppkey").cast("long").as("k"), col("s_name"),
            col("s_nationkey").cast("long").as("nk"))
          .repartition(4, col("nk"))
          .as[(Long, String, Long)]
          .foreachPartition { it: Iterator[(Long, String, Long)] =>
            if (it.hasNext) {
              val members = it.map { case (k, n, nk) =>
                (s"s$k.txt", s"$n:$nk".getBytes("UTF-8"))
              }
              graft.sources.ZipArchive.writeZip(
                s"$zipDir/part-${java.util.UUID.randomUUID().toString.take(8)}.zip",
                members, hconf)
            }
          }
        s.read.format("binaryFile").load(zipDir)
          .select(col("content")).as[Array[Byte]]
          .flatMap(b => graft.sources.ZipArchive.entries(b)
            .map { case (m, c) => (m, new String(c, "UTF-8")) })
          .toDF("member", "content")
      },
      Some("""SELECT 's' || s_suppkey || '.txt' AS member,
             |       s_name || ':' || s_nationkey AS content
             |FROM supplier""".stripMargin)),

    // P4: drop all-null columns in one aggregate pass
    // (ref: remove_empty_cols, round1/make_round1_prediction_files.R:41-43)
    QueryDef(
      "p4_drop_null_cols",
      (s, dir) => {
        val withJunk = tbl(s, dir, "events")
          .withColumn("junk_a", lit(null).cast("string"))
          .withColumn("junk_b", lit(null).cast("double"))
        val counts = withJunk.select(withJunk.columns.map(c =>
          count(col(c)).as(c)).toSeq: _*).head()
        val keep = withJunk.columns.filter(c => counts.getAs[Long](c) > 0)
        withJunk.select(keep.map(col).toSeq: _*)
      },
      Some("SELECT * FROM events")),

    // R6: nest non-key columns into a struct, then unnest back
    // (ref: reannotate_files.R:17 `nest(annotations = -entity)`)
    QueryDef(
      "r6_nest_struct",
      (s, dir) =>
        tbl(s, dir, "events")
          .select(col("event_id"),
            struct(col("user_id"), col("event_type"), col("value")).as("payload"))
          .select(col("event_id"), col("payload.user_id"),
            col("payload.event_type"), col("payload.value")),
      Some("SELECT event_id, user_id, event_type, value FROM events")),

    // F3: substring insert — '*' after the first char
    // (ref: Validations/upload_round2_patients.R:29-32)
    QueryDef(
      "f3_substring_insert",
      (s, dir) =>
        tbl(s, dir, "customer")
          .select(col("c_custkey"),
            concat(substring(col("c_mktsegment"), 1, 1), lit("*"),
              substring(col("c_mktsegment"), 2, 1000)).as("marked")),
      Some("""SELECT c_custkey,
             |       substr(c_mktsegment, 1, 1) || '*' || substr(c_mktsegment, 2) AS marked
             |FROM customer""".stripMargin)),

    // multi-join analytic query (TPC-H Q3 shape): the bench's join headline
    QueryDef(
      "q3_shipping",
      (s, dir) => {
        val c = tbl(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = tbl(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        val l = tbl(s, dir, "lineitem")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy("l_orderkey")
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey,
             |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             |GROUP BY l_orderkey
             |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    // event-time windowed aggregation (the batch shape of the streaming
    // windowed agg; SURVEY.md §2.11)
    QueryDef(
      "w5_time_window_agg",
      (s, dir) =>
        tbl(s, dir, "events")
          .groupBy(window(col("ts").cast("timestamp"), "1 day").as("w"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
          .select(col("w.start").cast("timestamp_ntz").as("day"),
            col("event_type"), col("n"), col("total")),
      Some("""SELECT date_trunc('day', ts) AS day, event_type,
             |       count(*) AS n, round(sum(value), 2) AS total
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // BPE-ish regex token counting over documents
    QueryDef(
      "t5_regex_tokens",
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(col("doc_id"),
            size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
              .as("n_word_tokens")),
      Some("""SELECT doc_id,
             |       len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_word_tokens
             |FROM documents""".stripMargin))
  )
}
