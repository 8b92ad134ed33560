package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.RF

/** Query-registry chunk 4/5 — storage round-trips, streaming, sketches and event analytics (q19-q39, q64-q73, t53-t54, t60-t61, m01-m06).
  *
  * The chunks are a LINEAR trait stack mixed into `object Queries`,
  * cut at section boundaries in ORIGINAL SOURCE ORDER: trait
  * linearization then initializes every val exactly as the one big
  * object did, so no forward val reference can change behavior. */
private[graft] trait Queries4Analytics extends Queries3Curate {

  import graft.functions.Text
  import graft.operators.{Dedup, Similarity}
  import graft.sources.Store
  import graft.streaming.Streams

  // ---------------------------------------------------------------- q19
  // Parted (date-partitioned) storage round-trip: write lineitem
  // Hive-partitioned by ship month, reload, query one month — the filter
  // on the virtual partition column prunes partitions before IO
  // (reference set-parted/get-parted, /root/reference/core/vary.c:176).
  def q19_parted(spark: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_parted/${dir.replaceAll("[^a-zA-Z0-9]", "_")}/lineitem"
    // stage once — the testdata is immutable, so an existing _SUCCESS
    // marker means the parted store is current (same rule as q21's stage)
    if (!new java.io.File(s"$path/_SUCCESS").exists()) {
      val li = t(spark, dir, "lineitem")
        .withColumn("ship_month", date_format($"l_shipdate", "yyyy-MM"))
      Store.setParted(li, path, "ship_month")
    }
    Store.getParted(spark, path)
      .filter($"ship_month" === "1995-03")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  private[graft] val q19_sql =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE strftime(l_shipdate, '%Y-%m') = '1995-03'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q20
  // Typed CSV round-trip (reference read-csv/write-csv with explicit
  // type vector, /root/reference/core/io.c:367-1030).
  def q20_csv(spark: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_csv/${dir.replaceAll("[^a-zA-Z0-9]", "_")}/nation"
    val nation = t(spark, dir, "nation")
    if (!new java.io.File(s"$path/_SUCCESS").exists())
      Store.writeCsv(nation, path)
    Store.readCsv(spark, path, nation.schema)
      .groupBy($"n_regionkey")
      .agg(count(lit(1)).as("n"), min($"n_name").as("first_name"))
      .orderBy($"n_regionkey")
  }

  private[graft] val q20_sql =
    """SELECT n_regionkey, COUNT(*) AS n, MIN(n_name) AS first_name
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---------------------------------------------------------------- q21
  // Streaming parity: events parquet ingested as a micro-batch stream,
  // tumbling 1-hour windows (the reference's xbar-on-timestamps + by:
  // loop, SURVEY §2.10), materialized via a memory sink. The streaming
  // result must equal the equivalent batch aggregation — the oracle IS
  // the batch query.
  def q21_stream_tumbling(spark: SparkSession, dir: String): DataFrame = {
    val batch = t(spark, dir, "events")
    val name = "graft_stream_" + math.abs(dir.hashCode)
    // the streaming file source ingests a directory (the reference's
    // journal dir); stage the events table into one (once — the testdata
    // is immutable, so an existing _SUCCESS marker means it's current)
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val stage = s"/tmp/graft_stream/$key/events"
    if (!new java.io.File(s"$stage/_SUCCESS").exists())
      Store.setSplayed(batch, stage)
    // result store + checkpoint keyed on the STAGE's content stamp (the
    // q56 rule): a restaged feed lands in a fresh base and runs cold
    val base = s"/tmp/graft_stream/$key/tumbling_s${srcStamp(stage, "")}"
    Streams.tumblingCounts(spark, stage, batch,
      tsCol = "ts2", keyCol = "event_type", valueCol = "value",
      windowSec = 3600, queryName = name,
      outPath = s"$base/out", checkpoint = s"$base/ckpt",
      prep = df => df.withColumn("ts2", expr("timestamp_micros(ts div 1000)")))
      .select(unix_timestamp($"window.start").as("hour_epoch"),
        $"event_type", $"n", round($"sum_value", 4).as("sum_value"))
      .orderBy($"hour_epoch", $"event_type")
  }

  private[graft] val q21_sql =
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
      |  event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
      |FROM events GROUP BY hour_epoch, event_type
      |ORDER BY hour_epoch, event_type""".stripMargin

  // ---------------------------------------------------------------- q22
  // Temporal functions (reference temporal library, SURVEY §2.8):
  // component extraction, date arithmetic, day deltas.
  def q22_temporal(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select($"o_orderkey",
        year($"o_orderdate").cast("long").as("yr"),
        month($"o_orderdate").cast("long").as("mo"),
        dayofmonth($"o_orderdate").cast("long").as("dom"),
        date_add($"o_orderdate".cast("date"), 30).as("due_date"),
        datediff($"o_orderdate".cast("date"), lit("1995-01-01").cast("date"))
          .cast("long").as("days_since"))
      .orderBy($"o_orderkey")

  private[graft] val q22_sql =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS BIGINT) AS yr,
      |  CAST(month(o_orderdate) AS BIGINT) AS mo,
      |  CAST(day(o_orderdate) AS BIGINT) AS dom,
      |  CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_date,
      |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q23
  // Casts (reference `as`, /root/reference/core/compose.c:42): numeric
  // truncation, to-string, string-to-number round trips.
  def q23_casts(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber",
        $"l_extendedprice".cast("long").as("price_trunc"),
        concat($"l_returnflag", lit("#"), $"l_linenumber".cast("string")).as("tag"),
        substring($"l_orderkey".cast("string"), 1, 3).cast("long").as("key_prefix"))
      .orderBy($"l_orderkey", $"l_linenumber")

  private[graft] val q23_sql =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(trunc(l_extendedprice) AS BIGINT) AS price_trunc,
      |  l_returnflag || '#' || CAST(l_linenumber AS VARCHAR) AS tag,
      |  CAST(substr(CAST(l_orderkey AS VARCHAR), 1, 3) AS BIGINT) AS key_prefix
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q24
  // concat (table append, type-promoting; reference
  // /root/reference/core/compose.c:465) + grouped collect
  // (aggr_collect → ordered distinct string agg).
  def q24_concat_group(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val both = li.filter($"l_quantity" > 48)
      .unionByName(li.filter($"l_quantity" < 2))
    both.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        concat_ws(",", array_sort(collect_set($"l_linestatus"))).as("statuses"))
      .orderBy($"l_returnflag")
  }

  private[graft] val q24_sql =
    """WITH both_ends AS (
      |  SELECT * FROM lineitem WHERE l_quantity > 48
      |  UNION ALL SELECT * FROM lineitem WHERE l_quantity < 2)
      |SELECT l_returnflag, COUNT(*) AS n,
      |  string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses
      |FROM both_ends GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q25
  // Generation (reference til/rand, /root/reference/core/compose.c:70):
  // deterministic ranges; rand is engine-specific so only til is
  // oracle-checked.
  def q25_til(spark: SparkSession, dir: String): DataFrame =
    spark.range(0, 1000).toDF("i")
      .select($"i", RF.xbar(lit(100L), $"i").as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n"), sum($"i").as("s"))
      .orderBy($"bucket")

  private[graft] val q25_sql =
    """SELECT (i - i % 100) AS bucket, COUNT(*) AS n,
      |  CAST(SUM(i) AS BIGINT) AS s
      |FROM range(0, 1000) t(i) GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q26
  // Tbl facade select: where → by → mappings (non-agg defaults to
  // first-per-group in arrival order) → take. Oracle pins arrival order
  // via arg_min on the unique (l_orderkey, l_linenumber) key, which is
  // the file order of the generated data.
  def q26_facade_select(spark: SparkSession, dir: String): DataFrame =
    // pin arrival order so "first-per-group" is well defined for the
    // oracle; (l_orderkey, l_linenumber) alone is NOT unique in the
    // synthetic data, so l_linestatus joins the sort key to make the
    // order total
    Tbl(t(spark, dir, "lineitem")
      .orderBy($"l_orderkey", $"l_linenumber", $"l_linestatus"))
      .select(
        mappings = Seq(
          "sum_qty" -> dsum($"l_quantity"),
          "n" -> count(lit(1)),
          "first_status" -> $"l_linestatus"),
        where = $"l_quantity" > 10,
        by = Seq("l_returnflag"))
      .df.orderBy($"l_returnflag")

  private[graft] val q26_sql =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n,
      |  arg_min(l_linestatus, (l_orderkey*10 + l_linenumber)*1000
      |    + ascii(substr(l_linestatus, 1, 1))) AS first_status
      |FROM lineitem WHERE l_quantity > 10
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q27
  // Tbl facade update: conditional column rewrite, CoW semantics.
  def q27_facade_update(spark: SparkSession, dir: String): DataFrame =
    Tbl(t(spark, dir, "orders"))
      // additive surcharge: exact in binary doubles, so no cross-engine
      // round-half divergence (multiplicative updates hit .005 halfway
      // cases where Spark rounds the shortest decimal repr and DuckDB
      // the exact binary value)
      .update(Seq("o_totalprice" -> ($"o_totalprice" + 250.0)),
        where = $"o_orderpriority" === "1-URGENT")
      .df
      .select($"o_orderkey", $"o_totalprice")
      .orderBy($"o_orderkey")

  private[graft] val q27_sql =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderpriority = '1-URGENT'
      |    THEN o_totalprice + 250.0 ELSE o_totalprice END AS o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- m01
  // Multimodal metadata: documents' text bytes as opaque binary payloads
  // (media blobs), expression-level metadata — lengths + checksums.
  def m01_media_meta(spark: SparkSession, dir: String): DataFrame = {
    val media = t(spark, dir, "documents")
      .select($"doc_id", $"lang".as("kind"), $"text".cast("binary").as("data"))
    operators.Multimodal.mediaMeta(media, "doc_id", "data", "kind")
      .orderBy($"media_id")
  }

  private[graft] val m01_sql =
    """SELECT doc_id AS media_id, lang AS kind,
      |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
      |  md5(text) AS checksum
      |FROM documents ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- m07
  // Audio-waveform stats card over the stub decode (each byte one
  // biased 8-bit sample — see Multimodal.audioStats): integer peak /
  // energy / zero-crossing aggregates. ORACLE CONVENTION (shared with
  // m01/m02, documented there): the engine samples UTF-8 BYTES while
  // the replay samples CODE POINTS (ascii(substr) − 96) — equal only
  // because this corpus is ASCII; a non-ASCII testdata regen would
  // need the oracle moved to an encode()-byte replay (the engine side
  // is byte-correct for any payload — MultimodalSpec pins ≥128).
  // DISPATCH CAVEAT (the m02 image-family precedent, round-17
  // review): the engine's decode is content-based — a document whose
  // bytes formed a PARSEABLE PCM WAV container would real-decode while
  // this oracle replays the stub. Requires 'RIFF'+size+'WAVE'+valid
  // fmt/data chunks at byte 0; unconstructible from the generated
  // word-soup corpus (and parsePcmWav declines anything structurally
  // short of a real container). A regen toward binary-ish text would
  // need an isWav-excluding payload here, like the m01 'BM'-prefix
  // note.
  def m07_audio_stats(spark: SparkSession, dir: String): DataFrame = {
    val media = t(spark, dir, "documents")
      .select($"doc_id", $"text".cast("binary").as("data"))
    operators.Multimodal.audioStats(media, "doc_id", "data")
      .orderBy($"media_id")
  }

  private[graft] val m07_sql =
    """WITH s AS (
      |  SELECT doc_id, list_transform(range(1, length(text) + 1),
      |    j -> ascii(substr(text, j, 1)) - 96) AS sm
      |  FROM documents)
      |SELECT doc_id AS media_id,
      |  CAST(len(sm) AS BIGINT) AS n_samples,
      |  CAST(COALESCE(list_max(list_transform(sm, x -> abs(x))), 0)
      |    AS BIGINT) AS peak,
      |  CAST(COALESCE(list_sum(list_transform(sm, x -> x * x)), 0)
      |    AS BIGINT) AS sum_sq,
      |  CAST(len(list_filter(range(2, len(sm) + 1),
      |    i -> (sm[i-1] < 0) <> (sm[i] < 0))) AS BIGINT) AS zero_cross
      |FROM s ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- m08
  // Audio activity segmentation (VAD) over the m07 stub decode:
  // windowed energy census + longest active run. Activity structure is
  // PLANTED per doc_id class — a silence run ('`' decodes to s = 0)
  // and loud runs (' ' decodes to s = −64, energy 4096/sample) — so
  // n_active and max_run vary (the raw word-soup corpus is ~11% active
  // at the 1000 mean-energy cut with runs ≤ 1, measured before fixing
  // the fixture). Same ASCII oracle convention as m07 (documented
  // there).
  def m08_audio_activity(spark: SparkSession, dir: String): DataFrame = {
    val page = concat($"text",
      when($"doc_id" % 3 === 0, lit("`" * 64 + " " * 96))
        .when($"doc_id" % 3 === 1, lit(" " * 32 + "`" * 32 + " " * 32))
        .otherwise(lit("")))
    val media = t(spark, dir, "documents")
      .select($"doc_id", page.cast("binary").as("data"))
    operators.Multimodal.audioActivity(media, "doc_id", "data",
        window = 32, thrPerSample = 1000L)
      .orderBy($"media_id")
  }

  private[graft] val m08_sql =
    """WITH p AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 3 = 0 THEN repeat('`', 64) || repeat(' ', 96)
      |         WHEN doc_id % 3 = 1
      |           THEN repeat(' ', 32) || repeat('`', 32) || repeat(' ', 32)
      |         ELSE '' END AS page
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, list_transform(range(1, length(page) + 1),
      |    j -> ascii(substr(page, j, 1)) - 96) AS sm
      |  FROM p),
      |w AS (
      |  SELECT doc_id, i AS wi,
      |    CAST(list_sum(list_transform(
      |      sm[(i*32+1):CAST(least((i+1)*32, len(sm)) AS INT)],
      |      x -> x*x)) AS BIGINT) AS energy,
      |    CAST(least((i+1)*32, len(sm)) - i*32 AS BIGINT) AS wlen
      |  FROM s, UNNEST(range(0, (len(sm) + 31) // 32)) AS t(i)),
      |a AS (SELECT doc_id, wi, energy > 1000 * wlen AS act FROM w),
      |runs AS (SELECT doc_id,
      |    wi - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY wi) AS grp
      |  FROM a WHERE act),
      |mr AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS max_run FROM (
      |    SELECT doc_id, grp, COUNT(*) AS c FROM runs GROUP BY doc_id, grp)
      |  GROUP BY doc_id),
      |na AS (SELECT doc_id,
      |    CAST(COUNT(*) FILTER (WHERE act) AS BIGINT) AS n_active,
      |    CAST(COUNT(*) AS BIGINT) AS n_windows
      |  FROM a GROUP BY doc_id)
      |SELECT p.doc_id AS media_id,
      |  COALESCE(n.n_windows, 0) AS n_windows,
      |  COALESCE(n.n_active, 0) AS n_active,
      |  COALESCE(m.max_run, 0) AS max_run
      |FROM p LEFT JOIN na n USING (doc_id) LEFT JOIN mr m USING (doc_id)
      |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- m09
  // REAL audio decode under the oracle: document snippets wrap as
  // canonical 8-bit mono PCM WAVs (Multimodal.wrapPcm8Wav) and
  // audioStats decodes them through javax.sound.sampled — the
  // round-9 "constructed media" device (m01 built real BMPs the same
  // way). Wrap-then-decode is the identity byte − 128 on the payload
  // (8-bit WAV PCM is unsigned), which DuckDB replays as ascii − 128;
  // a header-parse or sample-mapping bug cannot hash-match. ASCII
  // payloads sit entirely below 128, so zero_cross is structurally 0
  // here — the sign-change logic is oracle-covered by m07 (bias 96)
  // and the 16-bit path is spec-pinned (MultimodalSpec golden WAVs).
  // Same ASCII byte-vs-codepoint oracle convention as m07.
  def m09_wav_stats(spark: SparkSession, dir: String): DataFrame = {
    val payload = t(spark, dir, "documents")
      .select($"doc_id", substring($"text", 1, 200).cast("binary").as("data"))
    operators.Multimodal.audioStats(
        operators.Multimodal.wrapPcm8Wav(payload, "doc_id", "data"),
        "media_id", "wav")
      .orderBy($"media_id")
  }

  private[graft] val m09_sql =
    """WITH s AS (
      |  SELECT doc_id, list_transform(range(1, length(substr(text, 1, 200)) + 1),
      |    j -> ascii(substr(text, j, 1)) - 128) AS sm
      |  FROM documents)
      |SELECT doc_id AS media_id,
      |  CAST(len(sm) AS BIGINT) AS n_samples,
      |  CAST(COALESCE(list_max(list_transform(sm, x -> abs(x))), 0)
      |    AS BIGINT) AS peak,
      |  CAST(COALESCE(list_sum(list_transform(sm, x -> x * x)), 0)
      |    AS BIGINT) AS sum_sq,
      |  CAST(len(list_filter(range(2, len(sm) + 1),
      |    i -> (sm[i-1] < 0) <> (sm[i] < 0))) AS BIGINT) AS zero_cross
      |FROM s ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- m02
  // Multimodal decode stub via typed mapPartitions (mapInPandas shape):
  // per-media pseudo-pixel features. DuckDB-oracled: the payloads are the
  // docs' UTF-8 bytes and the corpus is ASCII, so byte values == ascii()
  // codes on the oracle side (MultimodalSpec pins non-ASCII bytes too).
  def m02_media_decode(spark: SparkSession, dir: String): DataFrame = {
    val media = t(spark, dir, "documents")
      .select($"doc_id", $"text".cast("binary").as("data"))
    operators.Multimodal.extractFeatures(media, "doc_id", "data")
      .select($"media_id", $"n_bytes", $"n_frames",
        round($"mean_intensity", 4).as("mean_intensity"))
      .orderBy($"media_id")
  }

  private[graft] val m02_sql =
    """SELECT doc_id AS media_id,
      |  CAST(length(text) AS INTEGER) AS n_bytes,
      |  CAST(ceil(length(text) / 64.0) AS INTEGER) AS n_frames,
      |  ROUND(CASE WHEN length(text) = 0 THEN 0.0
      |    ELSE CAST(list_sum(list_transform(range(1, length(text) + 1),
      |      j -> ascii(substr(text, j, 1)))) AS DOUBLE) / length(text) END, 4)
      |    AS mean_intensity
      |FROM documents ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- m03
  // Frame sampling (flatMap/UDTF shape): every 2nd 64-byte frame.
  def m03_frame_sample(spark: SparkSession, dir: String): DataFrame = {
    val media = t(spark, dir, "documents")
      .select($"doc_id", $"text".cast("binary").as("data"))
    operators.Multimodal.sampleFrames(media, "doc_id", "data", stride = 2)
      .select($"media_id", $"frame_idx", $"frame_bytes",
        round($"intensity", 4).as("intensity"))
      .orderBy($"media_id", $"frame_idx")
  }

  private[graft] val m03_sql =
    """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents)
      |SELECT doc_id AS media_id, CAST(i AS INTEGER) AS frame_idx,
      |  CAST(LEAST(64, n - i * 64) AS INTEGER) AS frame_bytes,
      |  ROUND(CAST(list_sum(list_transform(
      |      range(i * 64 + 1, LEAST(n, (i + 1) * 64) + 1),
      |      j -> ascii(substr(text, j, 1)))) AS DOUBLE)
      |    / LEAST(64, n - i * 64), 4) AS intensity
      |FROM d, unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT))) AS t(i)
      |WHERE i % 2 = 0
      |ORDER BY media_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------- m10
  // Shot-boundary detection (video scene segmentation — the frame-diff
  // member of the multimodal family; Multimodal.shotCard): fixed
  // 64-byte frames over the m08-style CONSTRUCTED pages (the planted
  // intensity structure: '`' = 96 vs ' ' = 32 blocks step the frame
  // mean by ~60, word-soup frames differ by ≤ a few), boundary where
  // the mean steps by > 16, cross-multiplied — all integers. Oracle =
  // per-frame totals (the m03 UNNEST spelling) + lag + gaps-and-
  // islands, LEFT-JOINed from the page table (the t90 empty-page
  // rule). Same ASCII byte-vs-codepoint convention as m02/m03.
  def m10_shot_card(spark: SparkSession, dir: String): DataFrame = {
    val page = concat($"text",
      when($"doc_id" % 3 === 0, lit("`" * 64 + " " * 96))
        .when($"doc_id" % 3 === 1, lit(" " * 32 + "`" * 32 + " " * 32))
        .otherwise(lit("")))
    val media = t(spark, dir, "documents")
      .select($"doc_id", page.cast("binary").as("data"))
    operators.Multimodal.shotCard(media, "doc_id", "data",
        frame = 64, thr = 16L)
      .orderBy($"media_id")
  }

  private[graft] val m10_sql =
    """WITH p AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 3 = 0 THEN repeat('`', 64) || repeat(' ', 96)
      |         WHEN doc_id % 3 = 1
      |           THEN repeat(' ', 32) || repeat('`', 32) || repeat(' ', 32)
      |         ELSE '' END AS page
      |  FROM documents),
      |pn AS (SELECT doc_id, page, CAST(length(page) AS BIGINT) AS n FROM p),
      |f AS (
      |  SELECT doc_id, i,
      |    CAST(list_sum(list_transform(
      |      range(i * 64 + 1, LEAST(n, (i + 1) * 64) + 1),
      |      j -> ascii(substr(page, CAST(j AS INT), 1)))) AS BIGINT) AS t,
      |    CAST(LEAST(64, n - i * 64) AS BIGINT) AS l
      |  FROM pn, UNNEST(range(0, (n + 63) // 64)) AS u(i)),
      |b AS (
      |  SELECT doc_id, i, t, l, lag(t) OVER w AS pt, lag(l) OVER w AS pl
      |  FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
      |s AS (
      |  SELECT doc_id, i, CASE WHEN pt IS NULL THEN 1
      |    WHEN abs(t * pl - pt * l) > 16 * l * pl THEN 1 ELSE 0 END AS ns
      |  FROM b),
      |g AS (SELECT doc_id, i,
      |    SUM(ns) OVER (PARTITION BY doc_id ORDER BY i) AS shot FROM s),
      |runs AS (SELECT doc_id, shot, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM g GROUP BY doc_id, shot),
      |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_frames,
      |    CAST(COUNT(*) AS BIGINT) AS n_shots,
      |    CAST(MAX(c) AS BIGINT) AS max_shot_len
      |  FROM runs GROUP BY doc_id)
      |SELECT p.doc_id AS media_id,
      |  COALESCE(a.n_frames, 0) AS n_frames,
      |  COALESCE(a.n_shots, 0) AS n_shots,
      |  COALESCE(a.max_shot_len, 0) AS max_shot_len
      |FROM p LEFT JOIN agg a USING (doc_id) ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- m12
  // Intensity-distribution card (exposure/contrast QA — the histogram
  // observable next to m02's means; Multimodal.intensityCard): 16
  // byte-value buckets per media, occupied count/span, dark and hi
  // shares with CROSS-MULTIPLIED flag cuts (4·n_dark > n, 5·n_hi >
  // 2·n, 0 < occ ≤ 2 — measured against the corpus base rates dark
  // ≤ 0.19 / hi ≤ 0.36 / occ = 3 BEFORE the oracle was written, the
  // s24 rule). Pages are CONSTRUCTED (the m08/m10 device) so every
  // flag is non-vacuous: %7==3 docs gain a 100-space dark run, %7==5
  // docs a 120-char '~' highlight run, %7==6 docs REPLACE their text
  // with 50 spaces (the washed-out page → low_contrast). ASCII-only
  // construction — the byte-vs-codepoint oracle convention holds.
  def m12_intensity_card(spark: SparkSession, dir: String): DataFrame = {
    val page = when($"doc_id" % 7 === 6, lit(" " * 50))
      .otherwise(concat($"text",
        when($"doc_id" % 7 === 3, lit(" " * 100))
          .when($"doc_id" % 7 === 5, lit("~" * 120))
          .otherwise(lit(""))))
    val media = t(spark, dir, "documents")
      .select($"doc_id", page.cast("binary").as("data"))
    operators.Multimodal.intensityCard(media, "doc_id", "data")
      .orderBy($"media_id")
  }

  private[graft] val m12_sql =
    """WITH p AS (
      |  SELECT doc_id, CASE WHEN doc_id % 7 = 6 THEN repeat(' ', 50)
      |    ELSE text ||
      |      CASE WHEN doc_id % 7 = 3 THEN repeat(' ', 100)
      |           WHEN doc_id % 7 = 5 THEN repeat('~', 120)
      |           ELSE '' END END AS page
      |  FROM documents),
      |h AS (
      |  SELECT doc_id,
      |    CAST(length(page) AS BIGINT) AS n_px,
      |    list_transform(range(0, 16), b -> len(list_filter(
      |      list_transform(range(1, length(page) + 1),
      |        j -> ascii(substr(page, CAST(j AS INT), 1)) // 16),
      |      x -> x = b))) AS hist
      |  FROM p),
      |s AS (
      |  SELECT doc_id, n_px,
      |    len(list_filter(hist, c -> c > 0)) AS occ,
      |    COALESCE(list_max(list_filter(range(0, 16), b -> hist[b + 1] > 0))
      |      - list_min(list_filter(range(0, 16), b -> hist[b + 1] > 0)),
      |      0) AS span,
      |    CAST(hist[1] + hist[2] + hist[3] + hist[4] AS BIGINT) AS n_dark,
      |    CAST(list_sum(list_transform(range(8, 17), i -> hist[CAST(i AS INT)]))
      |      AS BIGINT) AS n_hi
      |  FROM h)
      |SELECT doc_id AS media_id, n_px,
      |  CAST(occ AS INTEGER) AS occ, CAST(span AS INTEGER) AS span,
      |  n_dark, n_hi,
      |  4 * n_dark > n_px AS dark,
      |  5 * n_hi > 2 * n_px AS hi,
      |  occ > 0 AND occ <= 2 AS low_contrast
      |FROM s ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- m04
  // Perceptual-hash media dedup: the aHash family over the decoded
  // pixel stream — 62 equal spans, bit = span mean > global mean
  // (CROSS-MULTIPLIED, pure integers, 62 bits so the signature stays
  // non-negative and the d10 blocked-hamming arithmetic applies
  // unchanged) — then the shared 4×16-bit pigeonhole pair join
  // (Dedup.hammingNearDup64). The media-dedup step of a multimodal
  // pipeline: one typed decode pass, signatures only ever shuffle.
  def m04_phash(spark: SparkSession, dir: String): DataFrame = {
    val media = t(spark, dir, "documents")
      .select($"doc_id", $"text".cast("binary").as("data"))
    operators.Multimodal.perceptualHash(media, "doc_id", "data")
      .select($"media_id", $"n_bytes", $"phash")
      .orderBy($"media_id")
  }

  // (The pair join over these signatures — Dedup.hammingNearDup64, the
  // shared d10 4×16-bit pigeonhole — is exercised on planted near-dup
  // payloads in MultimodalSpec: this corpus has no hamming≤3 media
  // pairs, and a 0-row oracle would be vacuous.)
  private[graft] def phashSql(where: String, withBytes: Boolean): String = {
    val bytesCol =
      if (withBytes) "CAST(MIN(n) AS INTEGER) AS n_bytes,\n  " else ""
    s"""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
      |  WHERE $where),
      |tot AS (SELECT doc_id, n,
      |  CAST(coalesce(list_sum(list_transform(range(1, n + 1),
      |    j -> ascii(substr(text, j, 1)))), 0) AS BIGINT) AS total
      |  FROM d),
      |cells AS (SELECT d.doc_id, d.n, k, tot.total,
      |  CAST(coalesce(list_sum(list_transform(
      |    range((k * d.n) // 62 + 1, ((k + 1) * d.n) // 62 + 1),
      |    j -> ascii(substr(d.text, j, 1)))), 0) AS BIGINT) AS cs,
      |  ((k + 1) * d.n) // 62 - (k * d.n) // 62 AS cl
      |  FROM d JOIN tot USING (doc_id), unnest(range(0, 62)) AS t(k))
      |SELECT doc_id AS media_id, $bytesCol
      |  CAST(COALESCE(SUM(
      |    CASE WHEN cl > 0 AND cs * n > total * cl
      |         THEN (CAST(1 AS BIGINT) << k) ELSE 0 END), 0) AS BIGINT)
      |    AS phash
      |FROM cells GROUP BY doc_id ORDER BY media_id""".stripMargin
  }

  private[graft] val m04_sql = phashSql("TRUE", withBytes = true)

  // ---------------------------------------------------------------- m06
  // DCT-based perceptual hash (pHash proper, next to m04's aHash):
  // fixed-point DCT coefficient signs over exactly-centered box means —
  // EXACTLY invariant under uniform brightness shifts and positive
  // contrast scaling (MultimodalSpec pins planted shifted pairs; aHash
  // flips cells under both). Integer arithmetic end-to-end; the cosine
  // table is generated ONCE with StrictMath and embedded in the oracle
  // as literals (the s13 JL signs precedent) — no trig cross-engine.
  def m06_dct_hash(spark: SparkSession, dir: String): DataFrame = {
    val media = t(spark, dir, "documents")
      .select($"doc_id", $"text".cast("binary").as("data"))
    operators.Multimodal.dctHash(media, "doc_id", "data")
      .select($"media_id", $"n_bytes", $"dhash")
      .orderBy($"media_id")
  }

  private[graft] val m06_sql = {
    import operators.Multimodal.{DctBits, DctN, dctTable}
    val tvals = (0 until DctBits).flatMap(ki => (0 until DctN).map(b =>
      s"(${ki + 1},$b,${dctTable(ki)(b)})")).mkString(",")
    s"""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
       |bx AS (SELECT doc_id, b,
       |    CAST(coalesce(list_sum(list_transform(
       |      range((b * n) // $DctN + 1, ((b + 1) * n) // $DctN + 1),
       |      j -> ascii(substr(text, j, 1)))), 0) AS BIGINT) AS cs,
       |    ((b + 1) * n) // $DctN - (b * n) // $DctN AS cl
       |  FROM d, unnest(range(0, $DctN)) AS t(b)),
       |sm AS (SELECT doc_id, b,
       |    CASE WHEN cl > 0 THEN cs // cl ELSE 0 END AS s FROM bx),
       |ts AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS tot FROM sm
       |       GROUP BY doc_id),
       |dct(k, b, tv) AS (SELECT * FROM (VALUES $tvals)),
       |coef AS (SELECT sm.doc_id, dct.k,
       |    CAST(SUM(($DctN * sm.s - ts.tot) * dct.tv) AS BIGINT) AS c
       |  FROM sm JOIN ts USING (doc_id) JOIN dct ON dct.b = sm.b
       |  GROUP BY sm.doc_id, dct.k)
       |SELECT d.doc_id AS media_id, CAST(d.n AS INTEGER) AS n_bytes,
       |  CAST(COALESCE(SUM(CASE WHEN c > 0
       |    THEN (CAST(1 AS BIGINT) << (k - 1)) ELSE 0 END), 0) AS BIGINT)
       |    AS dhash
       |FROM d LEFT JOIN coef ON coef.doc_id = d.doc_id
       |GROUP BY d.doc_id, d.n ORDER BY media_id""".stripMargin
  }

  // ---------------------------------------------------------------- m05
  // PERSISTED perceptual-hash signature index + streaming media ingest
  // (the media half of the t44/t47 snapshot-dedup lifecycle): half the
  // corpus builds the index (one decode pass), a quarter streams in per
  // micro-batch (Streams.phashIngest — bytes hash ONCE, on arrival; the
  // index holds 8-byte signatures, never pixels), probes then dedup new
  // batches against the accumulated store (probe pairs are spec-pinned
  // on planted payloads — this corpus has no hamming<=3 media pairs and
  // a 0-row oracle would be vacuous). The ORACLE pins the lifecycle's
  // signature contents: store == batch aHash over exactly the
  // built+ingested docs.
  def m05_phash_index(spark: SparkSession, dir: String): DataFrame = {
    val media = t(spark, dir, "documents")
      .select($"doc_id", $"text".cast("binary").as("data"))
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val stage = s"/tmp/graft_stream/$key/documents"
    if (!new java.io.File(s"$stage/_SUCCESS").exists())
      sources.Store.setSplayed(t(spark, dir, "documents"), stage)
    val base = s"/tmp/graft_stream/$key/" +
      s"phash_idx_s${srcStamp(dir, "documents.parquet")}"
    val idxPath = s"$base/index"
    if (!new java.io.File(s"$base/done").exists()) {
      operators.Dedup.buildSigIndex(
        operators.Multimodal.perceptualHash(
          media.filter($"doc_id" % 4 < 2), "doc_id", "data")
          .select($"media_id".as("id"), $"phash".as("sh")),
        kind = "phash62", idxPath)
      streaming.Streams.phashIngest(spark, stage,
        t(spark, dir, "documents"), "doc_id", "text",
        idxPath, checkpoint = s"$base/ckpt",
        where = Some("doc_id % 4 = 2"))
      new java.io.File(s"$base/done").createNewFile()
    }
    spark.read.parquet(s"$idxPath/chunks")
      .select($"id".as("media_id"), $"sh".as("phash")).distinct()
      .orderBy($"media_id")
  }

  // the oracle replays the signatures of exactly the built+ingested docs
  private[graft] lazy val m05_sql = phashSql("doc_id % 4 <> 3", withBytes = false)

  // ---------------------------------------------------------------- m11
  // Signature-index DELETE lifecycle — the takedown half of m05's
  // media store (a takedown against indexed media must remove its
  // signature, or the probe keeps reporting near-dups of content that
  // no longer exists): build on half the corpus, append a quarter,
  // DELETE the 8th-residue-{1,2} docs (spanning both write paths),
  // read the surviving store. Chunk rows are pure per-row functions of
  // the signature, so delete(X) ≡ rebuild-without-X exactly — the
  // oracle is the shared phashSql over the survivors.
  def m11_sig_delete(spark: SparkSession, dir: String): DataFrame = {
    val media = t(spark, dir, "documents")
      .select($"doc_id", $"text".cast("binary").as("data"))
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val path = s"/tmp/graft_sigdel/$key" +
      s"/s${srcStamp(dir, "documents.parquet")}"
    val marker = new java.io.File(s"$path.deleted.marker")
    if (!marker.exists()) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      def sigOf(m: org.apache.spark.sql.DataFrame) =
        operators.Multimodal.perceptualHash(m, "doc_id", "data")
          .select($"media_id".as("id"), $"phash".as("sh"))
      operators.Dedup.buildSigIndex(
        sigOf(media.filter($"doc_id" % 4 < 2)), kind = "phash62", path)
      operators.Dedup.appendToSigIndex(
        sigOf(media.filter($"doc_id" % 4 === 2)), kind = "phash62", path)
      operators.Dedup.deleteFromSigIndex(spark,
        media.filter($"doc_id" % 4 < 3 && ($"doc_id" % 8).isin(1L, 2L)),
        "doc_id", path)
      require(marker.createNewFile(), s"m11: marker create failed at $path")
    }
    spark.read.parquet(s"$path/chunks")
      .select($"id".as("media_id"), $"sh".as("phash")).distinct()
      .orderBy($"media_id")
  }

  private[graft] lazy val m11_sql = phashSql(
    "doc_id % 4 <> 3 AND doc_id % 8 NOT IN (1, 2)", withBytes = false)

  // ---------------------------------------------------------------- q28
  // bin (vectorized binary search: greatest threshold ≤ x, reference
  // /root/reference/core/items.c:1552) — expressed as an as-of join
  // against the sorted break table.
  def q28_bin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val breaks = (0L to 500000L by 25000L).toDF("thr")
      .withColumn("bin_idx", (($"thr") / 25000).cast("long"))
    val orders = t(spark, dir, "orders")
      .select($"o_orderkey", $"o_totalprice", lit(1).as("k"),
        $"o_totalprice".as("price"))
    operators.AsofJoin.asofJoin(orders,
      breaks.withColumn("k", lit(1)).withColumn("price", $"thr".cast("double")),
      keys = Seq("k"), ts = "price")
      .select($"o_orderkey", $"bin_idx", $"thr")
      .orderBy($"o_orderkey")
  }

  private[graft] val q28_sql =
    """SELECT o.o_orderkey, b.bin_idx, b.thr
      |FROM orders o
      |ASOF LEFT JOIN (
      |  SELECT thr, thr // 25000 AS bin_idx, CAST(thr AS DOUBLE) AS price
      |  FROM (SELECT unnest(range(0, 500001, 25000)) AS thr)) b
      |  ON o.o_totalprice >= b.price
      |ORDER BY o.o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q29
  // take with negative count = tail (reference take,
  // /root/reference/core/items.c:398): last 5 orders by key.
  def q29_tail(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus")
      .orderBy($"o_orderkey".desc).limit(5)
      .orderBy($"o_orderkey")

  private[graft] val q29_sql =
    """SELECT * FROM (
      |  SELECT o_orderkey, o_orderstatus FROM orders
      |  ORDER BY o_orderkey DESC LIMIT 5)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q30
  // union (distinct, reference /root/reference/core/items.c:1022) and
  // sect (intersection, :898) over key vectors.
  def q30_union_sect(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
      .groupBy($"o_custkey")
      .agg(max($"o_orderpriority" === "1-URGENT").as("has_u"),
           max($"o_orderpriority" === "5-LOW").as("has_l"))
      .agg(count(lit(1)).as("n_union"),
           count(when($"has_u" && $"has_l", 1)).as("n_sect"))

  private[graft] val q30_sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_union,
      |  CAST(COUNT(*) FILTER (WHERE has_u AND has_l) AS BIGINT) AS n_sect
      |FROM (
      |  SELECT o_custkey,
      |    BOOL_OR(o_orderpriority = '1-URGENT') AS has_u,
      |    BOOL_OR(o_orderpriority = '5-LOW') AS has_l
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      |  GROUP BY o_custkey)""".stripMargin

  // ---------------------------------------------------------------- q31
  // Array ops over the embedding column (reference list ops + fold,
  // SURVEY §2.8/§2.9): size, max, filter-count, L2 norm via fold.
  def q31_arrays(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
      .select($"vec_id",
        size($"e").cast("long").as("dim"),
        round(array_max($"e"), 6).as("maxv"),
        size(filter($"e", x => x > 0)).cast("long").as("n_pos"),
        round(sqrt(aggregate($"e", lit(0.0), (a, x) => a + x * x)), 6).as("l2"))
      .orderBy($"vec_id")

  private[graft] val q31_sql =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      |  FROM embeddings)
      |SELECT vec_id,
      |  CAST(len(e) AS BIGINT) AS dim,
      |  ROUND(list_max(e), 6) AS maxv,
      |  CAST(len(list_filter(e, x -> x > 0)) AS BIGINT) AS n_pos,
      |  ROUND(sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum')), 6) AS l2
      |FROM v ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q32
  // apply / map-left (zip two sequences element-wise, reference
  // /root/reference/core/iter.c:585-837): dot of the embedding with its
  // own reversal.
  def q32_zip_apply(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
      .select($"vec_id",
        round(aggregate(zip_with($"e", reverse($"e"), (x, y) => x * y),
          lit(0.0), (a, x) => a + x), 6).as("dot_rev"))
      .orderBy($"vec_id")

  private[graft] val q32_sql =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      |  FROM embeddings)
      |SELECT vec_id,
      |  ROUND(list_sum(list_transform(range(1, len(e) + 1),
      |    i -> e[i] * e[len(e) + 1 - i])), 6) AS dot_rev
      |FROM v ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q33
  // rollup (beyond the reference — Spark/SQL native): subtotals and a
  // grand total over the pricing groups.
  def q33_rollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .select(coalesce($"l_returnflag", lit("(all)")).as("flag"),
        coalesce($"l_linestatus", lit("(all)")).as("status"),
        $"sum_qty", $"n")
      .orderBy($"flag", $"status")

  private[graft] val q33_sql =
    """SELECT COALESCE(l_returnflag, '(all)') AS flag,
      |  COALESCE(l_linestatus, '(all)') AS status,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY flag, status""".stripMargin

  // ---------------------------------------------------------------- q34
  // Sessionization: per-user sessions split on >30min gaps (lag +
  // running sum of break flags — the scan-based time-series pattern the
  // reference builds from scan/xbar, SURVEY §2.9/§2.10).
  def q34_sessionize(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000 * 1000
    val byUser = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "events")
      .select($"event_id", $"user_id", expr("ts div 1000").as("ts_us"))
      .withColumn("brk",
        when(($"ts_us" - lag($"ts_us", 1).over(byUser)) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum($"brk").over(cum))
      .groupBy($"user_id", $"sess_id")
      .agg(count(lit(1)).as("n_events"),
        min($"ts_us").as("start_us"), max($"ts_us").as("end_us"))
      .orderBy($"user_id", $"sess_id")
  }

  private[graft] val q34_sql =
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000
      |    THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |sessioned AS (
      |  SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id
      |    ORDER BY ts_us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS sess_id
      |  FROM flagged)
      |SELECT user_id, sess_id, COUNT(*) AS n_events,
      |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
      |FROM sessioned GROUP BY user_id, sess_id
      |ORDER BY user_id, sess_id""".stripMargin

  // ---------------------------------------------------------------- q35
  // High-cardinality multi-key group-by (the H2O group-by Q7 shape —
  // the reference's slowest benchmark query, BASELINE.md): 4 grouping
  // keys, partial+final hash aggregation, single shuffle.
  def q35_groupby_wide(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      // group on the INT month key (year*100+month) and render the
      // "yyyy-MM" string once per GROUP after the agg, not once per row
      // — at 200k groups over 600k rows that's 3× fewer string builds,
      // and the narrow int key hashes/compares cheaper in the partial
      // agg. Lexicographic "yyyy-MM" order == numeric ym order, so the
      // ORDER BY is unchanged.
      .groupBy($"l_returnflag", $"l_linestatus", $"l_suppkey",
        (year($"l_shipdate") * 100 + month($"l_shipdate")).as("__ym"))
      .agg(dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .select($"l_returnflag", $"l_linestatus", $"l_suppkey",
        concat(expr("__ym div 100").cast("string"), lit("-"),
          lpad(($"__ym" % 100).cast("string"), 2, "0")).as("ship_month"),
        $"sum_qty", $"n")
      .orderBy($"l_returnflag", $"l_linestatus", $"l_suppkey", $"ship_month")

  private[graft] val q35_sql =
    """SELECT l_returnflag, l_linestatus, l_suppkey,
      |  strftime(l_shipdate, '%Y-%m') AS ship_month,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus, l_suppkey, ship_month
      |ORDER BY l_returnflag, l_linestatus, l_suppkey, ship_month""".stripMargin

  // ---------------------------------------------------------------- q36
  // Large⋈large equi-join (the H2O join shape, BASELINE.md inner-join):
  // both sides over the broadcast threshold → shuffled join on the key.
  // Round-9 100× audit (an A/B at 60M⋈15M; README's q36 row): the SHUFFLED
  // HASH join is the stable winner (4.5 s vs sort-merge's 4.6-24 s —
  // SMJ pays two 15M-row sorts and spills erratically), and
  // pre-aggregating lineitem by orderkey before the join LOSES: the 15M-
  // key partial agg hash map costs more than the ~4× row fold saves.
  // The hint pins SHJ per-query (the reference's ij is a hash join too,
  // core/join.c) without flipping preferSortMergeJoin session-wide.
  def q36_join_big(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders").hint("shuffle_hash"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        dsum($"l_extendedprice").as("sum_price"),
        countDistinct($"o_orderkey").as("n_orders"))
      .orderBy($"o_orderpriority")

  private[graft] val q36_sql =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  COUNT(DISTINCT o_orderkey) AS n_orders
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- r01
  // Rayfall front-end: the reference's own query language, parsed and
  // compiled onto the Tbl facade → the same Catalyst plan as q01.
  def r01_rayfall_select(spark: SparkSession, dir: String): DataFrame =
    rayfall.Rayfall.query(
      """(select {sum_qty: (sum l_quantity)
        |         n: (count l_quantity)
        |         avg_disc: (avg l_discount)
        |         from: lineitem
        |         where: (> l_quantity 10)
        |         by: l_returnflag})""".stripMargin,
      Map("lineitem" -> t(spark, dir, "lineitem")))
      .select($"l_returnflag", round($"sum_qty", 2).as("sum_qty"), $"n",
        round($"avg_disc", 4).as("avg_disc"))
      .orderBy($"l_returnflag")

  private[graft] val r01_sql =
    """SELECT l_returnflag, ROUND(SUM(l_quantity), 2) AS sum_qty,
      |  COUNT(l_quantity) AS n, ROUND(AVG(l_discount), 4) AS avg_disc
      |FROM lineitem WHERE l_quantity > 10
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- r02
  // Rayfall scalar library: Euclidean division, xbar bucketing, within,
  // glob like — all through the parser.
  def r02_rayfall_scalars(spark: SparkSession, dir: String): DataFrame =
    rayfall.Rayfall.query(
      """(select {o_orderkey: o_orderkey
        |         halfkey: (/ o_orderkey 2)
        |         bucket: (xbar o_orderkey 1000)
        |         midprice: (within o_totalprice [50000.0 150000.0])
        |         urgent: (like o_orderpriority "1*")
        |         from: orders})""".stripMargin,
      Map("orders" -> t(spark, dir, "orders")))
      .orderBy($"o_orderkey")

  private[graft] val r02_sql =
    """SELECT o_orderkey,
      |  CAST(FLOOR(CAST(o_orderkey AS DOUBLE) / 2) AS BIGINT) AS halfkey,
      |  o_orderkey - o_orderkey % 1000 AS bucket,
      |  o_totalprice BETWEEN 50000.0 AND 150000.0 AS midprice,
      |  o_orderpriority LIKE '1%' AS urgent
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q37
  // Word count: raze+map composition (reference flatten/explode surface,
  // SURVEY §2.9 UDTF row) — explode tokens, count, top 20.
  def q37_wordcount(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(explode(split($"text", " ")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token")
      .limit(20)

  private[graft] val q37_sql =
    """SELECT token, COUNT(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q38
  // find (index of first occurrence, /root/reference/core/items.c:302)
  // + group (value → indices dict, /root/reference/core/compose.c:1071):
  // per event type, the first qualifying event and the group's span.
  def q38_find_group(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .filter($"value" > 30)
      .groupBy($"event_type")
      .agg(min($"event_id").as("first_match"),
        max($"event_id").as("last_match"),
        count(lit(1)).as("n_indices"))
      .orderBy($"event_type")

  private[graft] val q38_sql =
    """SELECT event_type, MIN(event_id) AS first_match,
      |  MAX(event_id) AS last_match, COUNT(*) AS n_indices
      |FROM events WHERE value > 30
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q39
  // Sketch aggregates (beyond the reference — the 100 TB path where
  // exact distinct counts are not affordable). HLL/quantile-sketch
  // results are engine-specific → rows-only driver check; accuracy
  // bounds are asserted in ApproxSpec.
  def q39_approx(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_partkey").as("approx_parts"),
        percentile_approx($"l_extendedprice", lit(0.5), lit(1000))
          .as("approx_med_price"))
      .orderBy($"l_returnflag")

  // ---------------------------------------------------------------- q64
  // DETERMINISTIC HyperLogLog census — q39's missing half: q39's
  // approx_count_distinct is engine-internal (rows-only check); this
  // sketch's hashing, registers, integer harmonic sum and estimate are
  // all replayable arithmetic, so the WHOLE sketch hash-matches in
  // DuckDB. One narrow hash map over the scan + one (slice, bucket)
  // register aggregate (≤ m rows/slice cross the shuffle — registers,
  // never keys). Raw-regime estimator only (ln is libm-unreplayable;
  // the small-n linear-counting bias is documented on Hll.census).
  def q64_hll(spark: SparkSession, dir: String): DataFrame =
    operators.Hll.census(t(spark, dir, "lineitem"),
      Seq("l_returnflag"), "l_orderkey", logM = 10)
      .orderBy($"l_returnflag")

  private[graft] val q64_sql =
    operators.Hll.censusSql("lineitem", "l_returnflag", "l_orderkey", 10)

  // ---------------------------------------------------------------- t53
  // STREAMING HLL ingest (the q64 production twin): a live feed's
  // registers append to the PERSISTED store per micro-batch
  // (Streams.hllIngest — MAX-merge makes at-least-once appends exactly
  // idempotent), the census max-merges at read time. Stream == batch:
  // max over per-batch registers equals registers of the whole feed,
  // so the oracle IS q64's SQL. Parameter-stamped stage dirs.
  private[graft] def hllStreamBase(dir: String, logM: Int): String = {
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    s"/tmp/graft_stream/$key/hll_m${logM}" +
      s"_s${srcStamp(dir, "lineitem.parquet")}"
  }

  def t53_stream_hll(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val stage = s"/tmp/graft_stream/$key/lineitem"
    if (!new java.io.File(s"$stage/_SUCCESS").exists())
      sources.Store.setSplayed(li, stage)
    val base = hllStreamBase(dir, 10)
    val store = s"$base/store"
    if (!new java.io.File(s"$base/done").exists()) {
      operators.Hll.buildHllStore(li.limit(0),
        Seq("l_returnflag"), "l_orderkey", logM = 10, store)
      streaming.Streams.hllIngest(spark, stage, li, store,
        checkpoint = s"$base/ckpt")
      new java.io.File(s"$base/done").createNewFile()
    }
    operators.Hll.censusFromStore(spark, store).orderBy($"l_returnflag")
  }

  // t53's oracle IS q64's SQL (stream == batch)
  private[graft] lazy val t53_sql = q64_sql

  // ---------------------------------------------------------------- t60
  // Persisted quantile-CENSUS store + streaming ingest — the EXACT
  // mergeable-summary counterpart of t53's HLL store: (slice, value,
  // count) cells merge by SUM, so a rolling corpus keeps cut points
  // exact forever at |slices|·|values| cells of state. At-least-once
  // replays collapse via the batch-stamped distinct-at-read (exact
  // counts can't max-merge). The whole table arrives via the stream,
  // so the oracle IS q65's batch SQL — stream == batch.
  private[graft] def censusStreamBase(dir: String): String = {
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    s"/tmp/graft_stream/$key/qcensus_v1" +
      s"_s${srcStamp(dir, "lineitem.parquet")}"
  }

  def t60_stream_quantiles(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val stage = s"/tmp/graft_stream/$key/lineitem"
    if (!new java.io.File(s"$stage/_SUCCESS").exists())
      sources.Store.setSplayed(li, stage)
    val base = censusStreamBase(dir)
    val store = s"$base/store"
    if (!new java.io.File(s"$base/done").exists()) {
      operators.Quantiles.buildCensusStore(li.limit(0),
        Seq("l_returnflag"), "l_quantity", store)
      streaming.Streams.censusIngest(spark, stage, li, store,
        checkpoint = s"$base/ckpt")
      new java.io.File(s"$base/done").createNewFile()
    }
    operators.Quantiles.quantilesFromStore(spark, store, Seq(50, 90, 99))
      .orderBy($"l_returnflag")
  }

  // t60's oracle IS q65's SQL (stream == batch)
  private[graft] lazy val t60_sql = q65_sql

  // ---------------------------------------------------------------- t101
  // Census-store BATCH RETRACTION — the takedown half count-based
  // stores admit EXACTLY (the round-17 verdict's observation: cells
  // carry batch stamps, so a batch's contribution subtracts cleanly —
  // unlike Bloom's OR and HLL's max, which are irreversible by
  // construction and document rebuild as the only path). Three batches
  // ingest by orderkey residue, batch 2 retracts through the
  // rename-swap home, and the surviving cut points must equal a store
  // that never saw the batch — the oracle computes the same exact
  // quantiles over the two surviving residues.
  def t101_census_retract(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val store = s"/tmp/graft_t101/$key" +
      s"/s${srcStamp(dir, "lineitem.parquet")}"
    val marker = new java.io.File(s"$store.retracted.marker")
    if (!marker.exists()) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
      operators.Quantiles.buildCensusStore(
        li.filter($"l_orderkey" % 3 === 0),
        Seq("l_returnflag"), "l_quantity", store)
      operators.Quantiles.appendToCensusStore(
        li.filter($"l_orderkey" % 3 === 1), store, batchId = 1L)
      operators.Quantiles.appendToCensusStore(
        li.filter($"l_orderkey" % 3 === 2), store, batchId = 2L)
      operators.Quantiles.retractCensusBatch(spark, store, batchId = 2L)
      require(marker.createNewFile(), s"t101: marker create failed")
    }
    operators.Quantiles.quantilesFromStore(spark, store, Seq(50, 90, 99))
      .orderBy($"l_returnflag")
  }

  private[graft] lazy val t101_sql = operators.Quantiles.quantileCensusSql(
    "(SELECT * FROM lineitem WHERE l_orderkey % 3 <> 2)",
    Seq("l_returnflag"), "l_quantity", Seq(50, 90, 99))

  // ---------------------------------------------------------------- t61
  // STREAMING raw-HTML extraction — t56 on a live crawl feed: the
  // staged per-doc pages stream through the same stateless codegen
  // chain micro-batch by micro-batch, so the accumulated output equals
  // the batch run row-for-row and the oracle IS t56's SQL. Readers
  // dedupe on doc_id (at-least-once append, the t27 stateless-map
  // convention).
  def t61_stream_html(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val base = s"/tmp/graft_stream/$key/html_v1" +
      s"_s${srcStamp(dir, "documents.parquet")}"
    val staged = t(spark, dir, "documents").select($"doc_id", $"lang",
      operators.Html.stagedHtmlCol($"doc_id", $"lang", $"source", $"text")
        .as("html"))
    if (!new java.io.File(s"$base/feed/_SUCCESS").exists())
      staged.write.mode("overwrite").parquet(s"$base/feed")
    if (!new java.io.File(s"$base/done").exists()) {
      streaming.Streams.htmlCleanStream(spark, s"$base/feed", staged,
        "html", outDir = s"$base/out", checkpoint = s"$base/ckpt")
      new java.io.File(s"$base/done").createNewFile()
    }
    spark.read.parquet(s"$base/out")
      .dropDuplicates("doc_id")
      .select($"doc_id", $"lang", length($"html").as("html_len"),
        $"n_tags", $"n_blocks", $"n_boiler", $"boiler_frac",
        length($"text_out").as("text_len"), $"text_out".as("text"))
      .orderBy($"doc_id")
  }

  // t61's oracle IS t56's SQL (stream == batch)
  private[graft] lazy val t61_sql = t56_sql

  // ---------------------------------------------------------------- t54
  // Time-windowed distinct-user census (the monitoring report a live
  // event pipeline reads: distinct users per hour per event type) —
  // the q64 HLL sketch composed with the q09 xbar hour bucket. Small
  // windows sit below the raw-regime floor, so the ESTIMATE is biased
  // there (documented on Hll.census) — but every number is still
  // replayable arithmetic, so the whole card hash-matches; at 100 TB
  // the per-window register rows (≤ m per slice) are what cross the
  // shuffle, never user ids.
  def t54_hll_windows(spark: SparkSession, dir: String): DataFrame = {
    val hourNs = 3600L * 1000 * 1000 * 1000
    val e = t(spark, dir, "events").select($"event_type",
      ((RF.xbar(lit(hourNs), $"ts").cast("decimal(38,0)") / hourNs)
        .cast("long") * 3600).as("hour_epoch"),
      $"user_id")
    operators.Hll.census(e, Seq("event_type", "hour_epoch"), "user_id",
      logM = 8)
      .orderBy($"event_type", $"hour_epoch")
  }

  private[graft] val t54_sql = operators.Hll.censusSqlFrom(
    """(SELECT event_type,
      |   CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
      |   user_id FROM events)""".stripMargin,
    Seq("event_type", "hour_epoch"), "user_id", logM = 8)

  // ---------------------------------------------------------------- q65
  // EXACT quantiles via value census — no global sort, no per-group
  // row buffering (q17's `median` sorts every row of a group; here
  // only (slice, value, count) census cells cross the shuffle — at
  // 100 TB that's |slices|·|distinct values| cells regardless of row
  // count). percentile_disc lower-bound semantics with cross-
  // multiplied integer thresholds; the reported cut points are census
  // KEYS, not computed floats — exact on any engine.
  def q65_quantile_census(spark: SparkSession, dir: String): DataFrame =
    operators.Quantiles.quantileCensus(t(spark, dir, "lineitem"),
      Seq("l_returnflag"), "l_quantity", Seq(50, 90, 99))
      .orderBy($"l_returnflag")

  private[graft] val q65_sql = operators.Quantiles.quantileCensusSql(
    "lineitem", Seq("l_returnflag"), "l_quantity", Seq(50, 90, 99))

  // ---------------------------------------------------------------- q86
  // Per-event-type INTER-EVENT-GAP quantiles (the latency/cadence
  // card of a clickstream: how long until a user's next event, by the
  // type of the event they just did): gaps via ONE lead() window per
  // user (the q67 lead-not-self-join rule), then the q65 exact census
  // quantiles — only (type, gap, count) cells cross the second
  // shuffle, and the reported cuts are census KEYS in µs, exact on
  // any engine. A user's last event has no gap and drops on both
  // sides (the census excludes nulls — the q65 rule).
  def q86_gap_quantiles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    val gaps = t(spark, dir, "events")
      .select($"user_id", $"event_type",
        expr("ts div 1000").as("tus"), $"event_id")
      .withColumn("gap_us", lead($"tus", 1).over(w) - $"tus")
    operators.Quantiles.quantileCensus(gaps, Seq("event_type"),
        "gap_us", Seq(50, 90, 99))
      .orderBy($"event_type")
  }

  private[graft] val q86_sql = operators.Quantiles.quantileCensusSql(
    """(SELECT event_type,
      |   LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
      |     ORDER BY epoch_us(ts), event_id) - epoch_us(ts) AS gap_us
      | FROM events)""".stripMargin,
    Seq("event_type"), "gap_us", Seq(50, 90, 99))

  // ---------------------------------------------------------------- q91
  // Streaming inter-event-gap quantiles — q86's live twin, composing
  // BOTH state disciplines of the scan-ingest family (see
  // Streams.gapCensusIngest): the cross-batch bridge gap is priced by
  // the phantom carry-in (order-sensitive — the twapIngest lead()
  // machinery), while the gap counts land in the persisted census
  // store as batch-stamped MERGEABLE cells (order-free — the q90/t60
  // machinery). Every event's gap emits exactly once, in the batch
  // where its successor first arrives; the final open event per user
  // matches the batch query's excluded null-gap row. The oracle IS
  // q86's SQL.
  def q91_stream_gap_quantiles(spark: SparkSession, dir: String): DataFrame = {
    val batch = t(spark, dir, "events")
      .select($"user_id", $"ts", $"event_type", $"event_id")
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val nChunks = 4
    val base = s"/tmp/graft_stream/$key/gapq_c${nChunks}" +
      s"_s${srcStamp(dir, "events.parquet")}"
    val (stage, censusPath, statePath, ckpt) =
      (s"$base/feed", s"$base/census", s"$base/state", s"$base/ckpt")
    if (!new java.io.File(s"$stage/_SUCCESS").exists()) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      Streams.stageTimeOrderedFeed(batch, "ts", nChunks, stage)
    }
    Streams.gapCensusIngest(spark, stage, batch,
      df => df.select($"user_id", expr("ts div 1000").as("tus"),
        $"event_id".as("eid"), $"event_type".as("etype")),
      censusPath, statePath, ckpt)
    operators.Quantiles.quantilesFromStore(spark, censusPath,
        Seq(50, 90, 99))
      .orderBy($"event_type")
  }

  private[graft] lazy val q91_sql = q86_sql

  // ---------------------------------------------------------------- q87
  // Click→purchase CONVERSION-LATENCY quantiles — the funnel-timing
  // card over the q56 interval-join pairs (every purchase within 6 h
  // of a click by the same user): latency buckets to SECONDS before
  // the census (µs latencies are near-distinct — second buckets keep
  // the census cell count ≤ 21600 regardless of corpus size, the
  // whole point of the q65 shape), then exact p50/p90/p99 cuts.
  def q87_conversion_latency(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select($"user_id", $"event_type", expr("ts div 1000").as("tus"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"tus".as("c_tus"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"tus".as("p_tus"))
    val pairs = clicks.join(purchases,
        $"user_id" === $"p_user" && $"p_tus" >= $"c_tus" &&
          $"p_tus" <= $"c_tus" + lit(6L * 3600L * 1000000L))
      .select(lit(1).as("grp"),
        // div, not `/` — Column./ is double division (the house rule)
        expr("(p_tus - c_tus) div 1000000L").as("lat_s"))
    operators.Quantiles.quantileCensus(pairs, Seq("grp"), "lat_s",
      Seq(50, 90, 99))
  }

  private[graft] val q87_sql = operators.Quantiles.quantileCensusSql(
    """(SELECT 1 AS grp,
      |   (epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS lat_s
      | FROM events a JOIN events b ON a.user_id = b.user_id
      |   AND a.event_type = 'click' AND b.event_type = 'purchase'
      |   AND epoch_us(b.ts) >= epoch_us(a.ts)
      |   AND epoch_us(b.ts) <= epoch_us(a.ts) + 21600000000)""".stripMargin,
    Seq("grp"), "lat_s", Seq(50, 90, 99))

  // ---------------------------------------------------------------- q88
  // Per-user Bollinger-band breakout census (Bollinger 1983 — the
  // rolling mean ± 2σ band next to the m-family in every market
  // analytics suite): over the 20-row trailing window in ×100-cent
  // integers, a breach is |x − mean| > 2σ. NO sqrt and NO division
  // ever computes — the band test cross-multiplies to
  // (n·x − S)² > 4·(n·SS − S²) with the sign split giving the
  // direction, so the whole query is exact integer arithmetic and the
  // oracle replays it literally. Operand bound: |cents| < 2^20 is
  // guarded ROW-LEVEL (the ohlcPrep raise_error idiom), which caps
  // (n·x − S)² < 2^51 and n·SS < 2^49 at n = 20 — far inside i64.
  // Incomplete warm-up windows (n < 20) never flag, the standard
  // Bollinger convention. ONE exchange: the census agg reuses the
  // window's user_id hash partitioning (the q84 discipline).
  /** The q88 chain over any (user_id, ts, value, event_id) frame —
    * factored so the spec pins hand-computed goldens (the drawdownOf
    * rule). On a constant 19-row tail plus one deviating row the test
    * reduces to 361(x−v)² > 76(x−v)² — ANY deviation from a flat run
    * flags, the degenerate-σ edge the spec pins. */
  private[graft] def bollingerOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(-19, 0)
    val cents = expr("CAST(round(value * 100) AS BIGINT)")
    val xi = when(cents.isNull || abs(cents) >= (1L << 20),
      raise_error(concat(
        lit("q88 band bound needs |cents| < 2^20, got "),
        coalesce(cents.cast("string"), lit("NULL")))).cast("long"))
      .otherwise(cents)
    val dev = $"n" * $"xi" - $"s"
    val varn = lit(4L) * ($"n" * $"ss" - $"s" * $"s")
    events
      .select($"user_id", $"ts", $"event_id", xi.as("xi"))
      .select($"user_id", $"xi",
        sum($"xi").over(w).as("s"),
        sum($"xi" * $"xi").over(w).as("ss"),
        count(lit(1)).over(w).as("n"))
      .groupBy($"user_id")
      .agg(
        sum(when($"n" === 20 && dev > 0 && dev * dev > varn, 1L)
          .otherwise(0L)).as("n_up"),
        sum(when($"n" === 20 && dev < 0 && dev * dev > varn, 1L)
          .otherwise(0L)).as("n_dn"),
        count(lit(1)).as("n_events"))
  }

  def q88_bollinger(spark: SparkSession, dir: String): DataFrame =
    bollingerOf(t(spark, dir, "events")).orderBy($"user_id")

  private[graft] val q88_sql =
    """WITH x AS (SELECT user_id, ts, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS xi FROM events),
      |w AS (SELECT user_id, xi,
      |    CAST(SUM(xi) OVER win AS BIGINT) AS s,
      |    CAST(SUM(xi * xi) OVER win AS BIGINT) AS ss,
      |    CAST(COUNT(*) OVER win AS BIGINT) AS n
      |  FROM x WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
      |SELECT user_id,
      |  CAST(SUM(CASE WHEN n = 20 AND n * xi - s > 0
      |    AND (n * xi - s) * (n * xi - s) > 4 * (n * ss - s * s)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
      |  CAST(SUM(CASE WHEN n = 20 AND n * xi - s < 0
      |    AND (n * xi - s) * (n * xi - s) > 4 * (n * ss - s * s)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dn,
      |  CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q66
  // Semi-structured JSON property extraction (events.props is a JSON
  // blob — the clickstream/telemetry shape): per event type, integer
  // aggregates over the extracted field. The parse is a narrow map
  // over the scan (JsonKeyRaw — the codegen twin of get_json_object,
  // which is CodegenFallback; JsonExprSpec fuzz-pins string equality
  // and the cast stays Spark's own; missing/malformed rows yield NULL
  // and are filtered, spec-pinned) — one agg shuffle after, nothing
  // else. Integer sums only, so the card hash-matches without any
  // decimal routing.
  def q66_json_extract(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select($"event_type",
        graft.functions.JsonKeyRaw.jsonLongKey($"props", "k").as("k"))
      .filter($"k".isNotNull)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
        max($"k").as("max_k"),
        count(when($"k" >= 50, 1)).as("n_hi"))
      .orderBy($"event_type")

  private[graft] val q66_sql =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(k) AS BIGINT) AS sum_k, MAX(k) AS max_k,
      |  CAST(SUM(CASE WHEN k >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi
      |FROM (SELECT event_type, CAST(props->>'k' AS BIGINT) AS k
      |      FROM events)
      |WHERE k IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q92
  // Streaming Bollinger breakout census — q88's live twin, the THIRD
  // state discipline of the scan-ingest family (see
  // Streams.bollingerIngest): bounded-lookback carry-in (the last ≤19
  // rows per user as window context, never re-counted) + mergeable
  // counters (the q90 algebra). The oracle IS q88's SQL: every batch
  // row's 20-window is exactly the batch query's (its predecessors
  // are in-batch or carried), warm-up suppression included.
  def q92_stream_bollinger(spark: SparkSession, dir: String): DataFrame = {
    val batch = t(spark, dir, "events")
      .select($"user_id", $"ts", $"value", $"event_id")
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val nChunks = 4
    val base = s"/tmp/graft_stream/$key/boll_c${nChunks}" +
      s"_s${srcStamp(dir, "events.parquet")}"
    val (stage, statePath, ckpt) =
      (s"$base/feed", s"$base/state", s"$base/ckpt")
    if (!new java.io.File(s"$stage/_SUCCESS").exists()) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      Streams.stageTimeOrderedFeed(batch, "ts", nChunks, stage)
    }
    Streams.bollingerIngest(spark, stage, batch,
      df => df.select($"user_id".as("k"), $"ts".as("t"),
        $"event_id".as("i"),
        expr("CAST(round(value * 100) AS BIGINT)").as("x")),
      statePath, ckpt)
    spark.read.parquet(statePath)
      .select($"k".as("user_id"), $"n_up", $"n_dn", $"n_events")
      .orderBy($"user_id")
  }

  private[graft] lazy val q92_sql = q88_sql

  // ---------------------------------------------------------------- q89
  // Per-hour VWAP (volume-weighted average price — the kdb market
  // analytic that sits next to TWAP/OHLC in every tick suite; q77
  // weights by TIME, this weights by traded VOLUME): price = value in
  // ×100-cent integers, volume = the props JSON's k field (the q66
  // extraction — VWAP's volume rides the event payload, the telemetry
  // shape). Both sums are EXACT integers (Σ(pc·vol) in DECIMAL(38,0)
  // narrowed to BIGINT, Σvol in BIGINT), so the one division at the
  // end is a correctly-rounded IEEE double of two exact integers —
  // bit-identical cross-engine with NO rounding discipline needed
  // (the q68 moment rule). Zero/absent-volume rows can't contribute
  // (filtered, spec-observable): a null volume would silently drop
  // from Σ(pc·vol) but not the count, skewing the average.
  /** The q89 chain over any (ts ns-long, value, props) frame —
    * factored for the golden spec. */
  private[graft] def vwapOf(events: DataFrame): DataFrame =
    events
      .select(expr("ts div 1000 div 3600000000").as("hr"),
        expr("CAST(round(value * 100) AS BIGINT)").as("pc"),
        graft.functions.JsonKeyRaw.jsonLongKey($"props", "k").as("vol"))
      .filter($"vol".isNotNull && $"vol" > 0)
      .groupBy($"hr")
      .agg(count(lit(1)).as("n"),
        sum($"vol").as("volume"),
        (sum(($"pc" * $"vol").cast("decimal(38,0)")).cast("long")
          .cast("double") / sum($"vol").cast("double")).as("vwap_c"))

  def q89_vwap(spark: SparkSession, dir: String): DataFrame =
    vwapOf(t(spark, dir, "events")).orderBy($"hr")

  private[graft] val q89_sql =
    """WITH x AS (SELECT epoch_us(ts) // 3600000000 AS hr,
      |    CAST(round(value * 100) AS BIGINT) AS pc,
      |    CAST(props->>'k' AS BIGINT) AS vol
      |  FROM events)
      |SELECT hr, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(vol) AS BIGINT) AS volume,
      |  CAST(CAST(SUM(pc * vol) AS BIGINT) AS DOUBLE)
      |    / CAST(CAST(SUM(vol) AS BIGINT) AS DOUBLE) AS vwap_c
      |FROM x WHERE vol IS NOT NULL AND vol > 0
      |GROUP BY hr ORDER BY hr""".stripMargin

  // ---------------------------------------------------------------- q90
  // Streaming per-hour VWAP — q89's live twin, and the MERGEABLE
  // member of the scan-ingest family (see Streams.vwapIngest: the
  // state is three associative integer sums per hour, so exactly-once
  // is just batch-stamped partial overwrite — no phantom, no swap, no
  // order guard; the contrast with the TWAP/EMA/CUSUM/drawdown
  // phantom-carry-in machinery is the point). The oracle IS q89's SQL:
  // order-free integer sums make stream == batch exact by
  // construction, and the one division happens only at read.
  def q90_stream_vwap(spark: SparkSession, dir: String): DataFrame = {
    val batch = t(spark, dir, "events")
      .select($"user_id", $"ts", $"value", $"props", $"event_id")
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val nChunks = 4
    val base = s"/tmp/graft_stream/$key/vwap_c${nChunks}" +
      s"_s${srcStamp(dir, "events.parquet")}"
    val (stage, storePath, ckpt) = (s"$base/feed", s"$base/store", s"$base/ckpt")
    if (!new java.io.File(s"$stage/_SUCCESS").exists()) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      Streams.stageTimeOrderedFeed(batch, "ts", nChunks, stage)
    }
    Streams.vwapIngest(spark, stage, batch,
      df => df.select(expr("ts div 1000 div 3600000000").as("hr"),
        expr("CAST(round(value * 100) AS BIGINT)").as("pc"),
        graft.functions.JsonKeyRaw.jsonLongKey($"props", "k").as("vol")),
      storePath, ckpt)
    Streams.readVwapStore(spark, storePath).orderBy($"hr")
  }

  private[graft] lazy val q90_sql = q89_sql

  // ---------------------------------------------------------------- q67
  // Hourly retention cohorts (the product-analytics card): of the
  // users active in hour h, how many are also active in hour h+1.
  // Scale shape: ONE distinct (user, hour) census (bounded by
  // users×hours, not events), then NO join at all — "active in h+1"
  // is `lead(h)` over the per-user hour order, so retention is a
  // per-user window (one exchange on user_id) followed by the final
  // per-hour count. Event rows never join, census rows never self-join.
  def q67_retention(spark: SparkSession, dir: String): DataFrame = {
    val hourNs = 3600L * 1000 * 1000 * 1000
    val c = t(spark, dir, "events")
      .select($"user_id",
        (RF.xbar(lit(hourNs), $"ts").cast("decimal(38,0)") / hourNs)
          .cast("long").as("h"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"h")
    c.withColumn("ret",
        when(lead($"h", 1).over(w) === $"h" + 1, 1L).otherwise(0L))
      .groupBy($"h")
      .agg(count(lit(1)).as("n_active"), sum($"ret").as("n_retained"))
      .select(($"h" * 3600).as("hour_epoch"), $"n_active", $"n_retained")
      .orderBy($"hour_epoch")
  }

  private[graft] val q67_sql =
    """WITH c AS (
      |  SELECT DISTINCT user_id,
      |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS h
      |  FROM events),
      |act AS (SELECT h, COUNT(*) AS n_active FROM c GROUP BY h),
      |ret AS (
      |  SELECT a.h, COUNT(*) AS n_retained
      |  FROM c a JOIN c b ON a.user_id = b.user_id AND b.h = a.h + 1
      |  GROUP BY a.h)
      |SELECT act.h * 3600 AS hour_epoch, act.n_active,
      |  COALESCE(ret.n_retained, 0) AS n_retained
      |FROM act LEFT JOIN ret ON ret.h = act.h
      |ORDER BY hour_epoch""".stripMargin

  // ---------------------------------------------------------------- q68
  // DETERMINISTIC Pearson correlation + population covariance —
  // Spark's corr/covar_pop are streaming-moment DOUBLE aggregates
  // whose value depends on row order (not replayable); here the
  // moments are EXACT integers (quantity is integral, price scales by
  // 100 → y100; per-row products fit i64, ALL product sums ride
  // DECIMAL(38,0) ↔ DuckDB HUGEINT — i64 sums would ANSI-abort at
  // large SF), and the final scalar chain (cast-to-double,
  // sqrt, divide — each correctly rounded from exact inputs) is
  // identical both engines, so the statistics hash-match. One agg
  // shuffle of 6 integer moments per slice.
  def q68_corr(spark: SparkSession, dir: String): DataFrame = {
    val m = t(spark, dir, "lineitem").select($"l_returnflag",
      $"l_quantity".cast("long").as("x"),
      round($"l_extendedprice" * 100).cast("long").as("y"))
    def d(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val a = m.groupBy($"l_returnflag").agg(
      count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
      sum(($"x" * $"x").cast("decimal(38,0)")).as("sxx"),
      sum(($"y" * $"y").cast("decimal(38,0)")).as("syy"),
      sum(($"x" * $"y").cast("decimal(38,0)")).as("sxy"))
    val num = d($"n") * d($"sxy") - d($"sx") * d($"sy")
    val vx = d($"n") * d($"sxx") - d($"sx") * d($"sx")
    val vy = d($"n") * $"syy" - d($"sy") * d($"sy")
    a.select($"l_returnflag", $"n",
        RF.roundBin(num.cast("double") /
          (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))), 6)
          .as("corr_qty_price"),
        RF.roundBin(num.cast("double") / ($"n" * $"n").cast("double")
          / 100.0, 4).as("covar_pop_qty_price"))
      .orderBy($"l_returnflag")
  }

  private[graft] val q68_sql =
    """WITH m AS (
      |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      |  FROM lineitem),
      |a AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |    SUM(CAST(y AS HUGEINT) * y) AS syy,
      |    SUM(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM m GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  floor(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |       * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
      |    * 1000000 + 0.5) / 1000000 AS corr_qty_price,
      |  floor(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / CAST(n * n AS DOUBLE) / 100.0
      |    * 10000 + 0.5) / 10000 AS covar_pop_qty_price
      |FROM a ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q69
  // Rank-family windows WITH TIES: dense_rank / percent_rank /
  // cume_dist ordered by quantity alone (50 distinct values → real
  // peer groups). These depend only on the ORDER BY key values, never
  // on row order within a peer group, so they're deterministic without
  // a tie-break; percent_rank = (rank−1)/(n−1) and cume_dist = peers/n
  // divide the same integers on both engines → bit-identical doubles,
  // no rounding needed. Output sampled AFTER the window (the window
  // must see the full partition).
  def q69_rank_family(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"l_returnflag").orderBy($"l_quantity")
    t(spark, dir, "lineitem")
      .select($"l_returnflag", $"l_quantity", $"l_orderkey",
        $"l_linenumber",
        dense_rank().over(w).as("drank"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"))
      .filter($"l_orderkey" % 499 === 0)
      .orderBy($"l_returnflag", $"l_quantity", $"l_orderkey",
        $"l_linenumber")
  }

  private[graft] val q69_sql =
    """SELECT * FROM (
      |  SELECT l_returnflag, l_quantity, l_orderkey, l_linenumber,
      |    DENSE_RANK() OVER w AS drank,
      |    PERCENT_RANK() OVER w AS prank,
      |    CUME_DIST() OVER w AS cdist
      |  FROM lineitem
      |  WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity))
      |WHERE l_orderkey % 499 = 0
      |ORDER BY l_returnflag, l_quantity, l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q70
  // Per-key exponential moving average (the kdb-family ema, beyond the
  // reference's m-family): a RECURSION over each user's time order
  // that no window frame expresses replayably (the closed form needs
  // pow — not correctly rounded, the t13 ln rule). Engine = the scan
  // ---------------------------------------------------------------- q77
  // Per-user TWAP (time-weighted average value — the kdb-family
  // temporal aggregate next to the asof/window-join surface;
  // /root/reference/core/aggr.c avg + core/join.c prevailing
  // semantics): the prevailing value holds over [t_i, t_{i+1}), so
  // TWAP = Σ v_i·(t_{i+1}−t_i) / (t_last − t_first). Exactness (the
  // q68 moments discipline): values quantize at ×100 (the price
  // convention), timestamps compare at µs (the events oracle rule),
  // every v·dt term is exact in DECIMAL(38,0)/HUGEINT, and only the
  // reported mean divides through an identical fixed-order chain +
  // 4-dp roundBin. Window order (tus, event_id) is total; same-µs
  // ties contribute dt = 0 either way. Single-event users have no
  // interval and drop (den > 0 both sides).
  def q77_twap(spark: SparkSession, dir: String): DataFrame =
    twapOf(t(spark, dir, "events")
        .select($"user_id", $"ts", $"value", $"event_id"))
      .orderBy($"user_id")

  /** The q77 chain over any (user_id, ts ns-long, value, event_id)
    * frame — one home so the spec's hand-computed golden pins the
    * exact query arithmetic. Plan shape: ONE user_id exchange — the
    * window's sort, then a grouped agg that REUSES the window's
    * partitioning (num, n and den all come off the window output; a
    * separate den scan + join read 10.2 s vs 4-5 s at the 10M-event
    * 100× probe). */
  private[graft] def twapOf(events: DataFrame): DataFrame = {
    val ev = twapPrep(events)
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"eid")
    ev.withColumn("tnext", lead($"tus", 1).over(w))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when($"tnext".isNotNull,
          ($"tnext" - $"tus").cast("decimal(38,0)") * $"vq")).as("num"),
        (max($"tus") - min($"tus")).as("den"))
      .filter($"den" > 0L)
      .select($"user_id", $"n_events",
        RF.roundBin($"num".cast("double") / $"den".cast("double")
          / lit(100.0), 4).as("twap"))
  }

  /** (user_id, tus µs, vq ×100 cents, eid) — the TWAP projection, one
    * home for the batch window (q77) and the streaming state merge
    * (q79 via Streams.twapIngest). */
  private[graft] def twapPrep(events: DataFrame): DataFrame =
    events.select($"user_id",
      expr("ts div 1000").as("tus"),
      expr("CAST(round(value * 100) AS BIGINT)").as("vq"),
      $"event_id".as("eid"))

  private[graft] val q77_sql =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS tus,
      |    CAST(round(value * 100) AS BIGINT) AS vq, event_id
      |  FROM events),
      |s AS (
      |  SELECT user_id, tus, vq,
      |    LEAD(tus) OVER (PARTITION BY user_id
      |      ORDER BY tus, event_id) AS tnext
      |  FROM ev),
      |num AS (
      |  SELECT user_id, SUM(CAST(tnext - tus AS HUGEINT) * vq) AS num
      |  FROM s WHERE tnext IS NOT NULL GROUP BY user_id),
      |den AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |    MAX(tus) - MIN(tus) AS den
      |  FROM ev GROUP BY user_id)
      |SELECT d.user_id, d.n_events,
      |  floor(CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE) / 100.0
      |    * 10000 + 0.5) / 10000 AS twap
      |FROM den d JOIN num n USING (user_id)
      |WHERE d.den > 0 ORDER BY d.user_id""".stripMargin

  // ---------------------------------------------------------------- q78
  // Per-user hourly OHLC bars — the kdb time-series staple next to
  // TWAP (first/last/min/max of the prevailing value per bucket;
  // /root/reference/core/aggr.c first/last + xbar). open/close use
  // min_by/max_by over a TIE-TOTAL integer key (the CLAUDE.md rule):
  // key = in-hour µs offset · 2^30 + event_id — offset < 3.6e9 < 2^32
  // so the product stays < 2^62, and event_id (globally unique,
  // runtime-guarded < 2^30) makes same-µs ties total. Values ride as
  // ×100 BIGINT cents (the q68 price convention) — no double ever
  // aggregates. ONE shuffle with map-side partials.
  def q78_ohlc(spark: SparkSession, dir: String): DataFrame =
    ohlcOf(t(spark, dir, "events")
        .select($"user_id", $"ts", $"value", $"event_id"))
      .orderBy($"user_id", $"hour")

  /** The q78 chain over any (user_id, ts ns-long, value, event_id)
    * frame — one home so the spec's tie goldens pin the exact query
    * arithmetic. Shared with the streaming twin q80 via [[ohlcPrep]] /
    * [[ohlcAggs]] (same projection, same aggregate expressions — the
    * stream groups by the watermarked hour window instead of the
    * derived hour long). */
  private[graft] def ohlcOf(events: DataFrame): DataFrame =
    ohlcPrep(events)
      .select($"user_id", expr("tus div 3600000000L").as("hour"),
        $"key", $"vq")
      .groupBy($"user_id", $"hour")
      .agg(ohlcAggs.head, ohlcAggs.tail: _*)

  /** (user_id, tus µs, vq ×100 cents, key) over a (user_id, ts ns-long,
    * value, event_id) frame. key = in-hour µs offset · 2^30 + event_id
    * — tie-total (offset < 3.6e9 < 2^32 keeps the product < 2^62);
    * event_id is guarded into [0, 2^30) ROW-LEVEL via the raise_error
    * idiom (the weightedSample rule) — no separate full-scan driver
    * action, empty frames pass vacuously, and a negative event_id
    * (which would collide keys across adjacent offsets) aborts instead
    * of silently breaking the order. */
  private[graft] def ohlcPrep(events: DataFrame): DataFrame = {
    val eidOk = when($"event_id".isNull || $"event_id" < 0L ||
        $"event_id" >= (1L << 30),
      raise_error(concat(
        lit("q78 order key needs 0 <= event_id < 2^30, got "),
        coalesce($"event_id".cast("string"), lit("NULL")))).cast("long"))
      .otherwise($"event_id")
    events.select($"user_id",
        expr("ts div 1000").as("tus"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vq"),
        eidOk.as("eid"))
      .select($"user_id", $"tus", $"vq",
        (expr("tus % 3600000000L") * (1L << 30) + $"eid").as("key"))
  }

  /** The OHLC bar aggregates — n, open/high/low/close in ×100 cents,
    * open/close via min_by/max_by over the tie-total key. ONE home for
    * the batch (q78) and streaming (q80) groupings. */
  private[graft] val ohlcAggs: Seq[Column] = Seq(
    count(lit(1)).as("n"),
    min_by($"vq", $"key").as("open_c"),
    max($"vq").as("high_c"),
    min($"vq").as("low_c"),
    max_by($"vq", $"key").as("close_c"))

  private[graft] val q78_sql =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS tus,
      |    CAST(round(value * 100) AS BIGINT) AS vq, event_id
      |  FROM events),
      |k AS (
      |  SELECT user_id, tus // 3600000000 AS hour,
      |    (tus % 3600000000) * 1073741824 + event_id AS key, vq
      |  FROM ev)
      |SELECT user_id, hour, CAST(COUNT(*) AS BIGINT) AS n,
      |  arg_min(vq, key) AS open_c,
      |  MAX(vq) AS high_c,
      |  MIN(vq) AS low_c,
      |  arg_max(vq, key) AS close_c
      |FROM k GROUP BY user_id, hour
      |ORDER BY user_id, hour""".stripMargin

  // ---------------------------------------------------------------- q79
  // Streaming per-user TWAP — q77's live twin, the kdb production
  // shape (bars kept current by insert callbacks,
  // /root/reference/core/update.c:414-555): a time-ordered feed folds
  // into a per-user persisted state table (bounded by USER cardinality,
  // never event count; v·dt exact in DECIMAL(38,0) — the q77
  // discipline), the cross-batch prevailing-value bridge priced by the
  // phantom-carry-in lead (Streams.twapIngest). Stream == batch on an
  // in-order feed, so the oracle IS q77's SQL.
  def q79_stream_twap(spark: SparkSession, dir: String): DataFrame = {
    val batch = t(spark, dir, "events")
      .select($"user_id", $"ts", $"value", $"event_id")
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val nChunks = 4
    val base = s"/tmp/graft_stream/$key/twap_c${nChunks}" +
      s"_s${srcStamp(dir, "events.parquet")}"
    val (stage, statePath, ckpt) = (s"$base/feed", s"$base/state",
      s"$base/ckpt")
    if (!new java.io.File(s"$stage/_SUCCESS").exists()) {
      // state + checkpoint are only valid against THIS staged feed —
      // a regenerated feed drops all three together
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      Streams.stageTimeOrderedFeed(batch, "ts", nChunks, stage)
    }
    // a drained re-run is a planned restart: completed batch ids skip,
    // the state table stays as the finished fold
    Streams.twapIngest(spark, stage, batch, df => twapPrep(df),
      statePath, ckpt)
    spark.read.parquet(statePath)
      .filter($"last_tus" - $"first_tus" > 0L)
      .select($"user_id", $"n".as("n_events"),
        RF.roundBin($"num".cast("double") /
          ($"last_tus" - $"first_tus").cast("double") / lit(100.0), 4)
          .as("twap"))
      .orderBy($"user_id")
  }

  private[graft] lazy val q79_sql = q77_sql

  // ---------------------------------------------------------------- q80
  // Streaming per-user hourly OHLC bars — q78's live twin as a
  // WATERMARKED windowed aggregation (append mode: each bar emits
  // exactly once when the watermark passes its end, closed-bar state
  // evicts mid-run — WatermarkSpec pins it on this query's own run),
  // now the DURABLE production shape: checkpointed, with closed bars
  // landing in a persisted store (Streams.watermarkedBarsIngest — the
  // round-17 verdict's q80 fix), so repeated invocations cost one
  // punctuation micro-batch instead of a full feed replay.
  // The staged feed carries one PUNCTUATION row (user_id −1, event
  // time 3 h past the corpus max — the heartbeat idiom) so the final
  // bars close; with disjoint-ascending chunks no real row is ever
  // late, so the emitted bars equal the batch q78 exactly and the
  // oracle IS q78's SQL. Same ohlcPrep/ohlcAggs one-homes as q78.
  def q80_stream_ohlc(spark: SparkSession, dir: String): DataFrame = {
    val batch = t(spark, dir, "events")
      .select($"user_id", $"ts", $"value", $"event_id")
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val nChunks = 4
    val base = s"/tmp/graft_stream/$key/ohlc_c${nChunks}" +
      s"_s${srcStamp(dir, "events.parquet")}"
    val (stage, barsPath, ckpt) = (s"$base/feed", s"$base/bars",
      s"$base/ckpt")
    def sentinelOf(maxTs: Long, hoursPastMax: Long) =
      spark.range(1).select(lit(-1L).as("user_id"),
        lit(maxTs + hoursPastMax * 3600L * 1000000000L).as("ts"),
        lit(0.0).as("value"), lit(0L).as("event_id"))
    // maxTs persists WITH the staged feed (underscore-prefixed — the
    // file source ignores it): the punctuation tick needs it on every
    // call, and re-aggregating the full events table per call was a
    // wasted corpus scan (round-17 self-review)
    val maxTsFile = new java.io.File(s"$stage/_maxts")
    if (!new java.io.File(s"$stage/_SUCCESS").exists()) {
      // bars + checkpoint are only valid against THIS staged feed
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      val maxTs = batch.agg(max($"ts")).head().getLong(0)
      Streams.stageTimeOrderedFeed(
        batch.unionByName(sentinelOf(maxTs, 3L)), "ts", nChunks, stage)
      java.nio.file.Files.write(maxTsFile.toPath,
        maxTs.toString.getBytes("UTF-8"))
    }
    // backfill: a feed staged by an older build has _SUCCESS but no
    // _maxts — recompute once and persist rather than crash on
    // stale-but-valid cache state (round-18 self-review)
    if (!maxTsFile.exists())
      java.nio.file.Files.write(maxTsFile.toPath,
        batch.agg(max($"ts")).head().getLong(0).toString.getBytes("UTF-8"))
    val maxTs = new String(
      java.nio.file.Files.readAllBytes(maxTsFile.toPath), "UTF-8")
      .trim.toLong
    Streams.watermarkedBarsIngest(spark, stage, batch,
        df => ohlcPrep(df),
        keyCol = "user_id", tsUsCol = "tus",
        windowDur = "1 hour", delay = "1 hour",
        aggs = ohlcAggs, sentinelKey = -1L,
        queryName = "graft_ohlc_" + math.abs(dir.hashCode),
        punctuation = sentinelOf(maxTs, 6L),
        barsPath = barsPath, checkpoint = ckpt)
      .select($"user_id",
        expr("unix_micros(window.start) div 3600000000L").as("hour"),
        $"n", $"open_c", $"high_c", $"low_c", $"close_c")
      .orderBy($"user_id", $"hour")
  }

  private[graft] lazy val q80_sql = q78_sql

  // ---------------------------------------------------------------- q84
  // Per-user maximum drawdown (the running-peak deficit — the risk
  // staple next to OHLC/TWAP; unlike EMA/CUSUM the running max IS
  // windowable, so this is ONE window + one grouped aggregation, no
  // sequential kernel): peak_t = cummax(vq), dd_t = peak_t − vq, and
  // the card reports max drawdown + the FIRST event attaining it via
  // a tie-total integer argmax key dd·2^31 + (2^31−1−event_id) — dd ≤
  // peak ≤ 2^16 cents keeps the product < 2^47; event_id rides the
  // q78 row-level guard into [0, 2^30). All ×100-cent integers, no
  // rounding anywhere.
  def q84_drawdown(spark: SparkSession, dir: String): DataFrame =
    drawdownOf(t(spark, dir, "events")
        .select($"user_id", $"ts", $"value", $"event_id"))
      .orderBy($"user_id")

  /** The q84 chain over any (user_id, ts ns-long, value, event_id)
    * frame — one home so the spec's tie golden pins the exact query
    * arithmetic. */
  private[graft] def drawdownOf(events: DataFrame): DataFrame = {
    val ev = ohlcPrep(events)
      // ohlcPrep's key = in-hour offset·2^30 + eid; recover the
      // guarded eid (the one home for the event_id range guard)
      .select($"user_id", $"tus", $"vq",
        ($"key" % (1L << 30)).as("eid"))
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"eid")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("peak", max($"vq").over(w))
      .withColumn("dd", $"peak" - $"vq")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        max($"vq").as("peak_c"),
        max($"dd").as("max_dd_c"),
        max_by($"eid",
          $"dd" * (1L << 31) + (lit((1L << 31) - 1) - $"eid"))
          .as("dd_event"))
  }

  private[graft] val q84_sql =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS tus,
      |    CAST(round(value * 100) AS BIGINT) AS vq, event_id
      |  FROM events),
      |w AS (
      |  SELECT user_id, event_id, vq,
      |    MAX(vq) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |      ROWS UNBOUNDED PRECEDING) AS peak
      |  FROM ev),
      |d AS (SELECT user_id, event_id, vq, peak, peak - vq AS dd FROM w)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  MAX(peak) AS peak_c, MAX(dd) AS max_dd_c,
      |  arg_max(event_id,
      |    dd * 2147483648 + (2147483647 - event_id)) AS dd_event
      |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q85
  // Streaming per-user max drawdown — q84's live twin: the summary IS
  // mergeable state (n, peak_c, best_key — key-max is associative and
  // the tie-total key ordering is exactly the (max dd, first event)
  // rule), with the running peak seeded per batch by the stored-peak
  // phantom (Streams.drawdownIngest). Oracle IS q84's SQL.
  def q85_stream_drawdown(spark: SparkSession, dir: String): DataFrame = {
    val batch = t(spark, dir, "events")
      .select($"user_id", $"ts", $"value", $"event_id")
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val nChunks = 4
    val base = s"/tmp/graft_stream/$key/dd_c${nChunks}" +
      s"_s${srcStamp(dir, "events.parquet")}"
    val (stage, statePath, ckpt) = (s"$base/feed", s"$base/state",
      s"$base/ckpt")
    if (!new java.io.File(s"$stage/_SUCCESS").exists()) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      Streams.stageTimeOrderedFeed(batch, "ts", nChunks, stage)
    }
    Streams.drawdownIngest(spark, stage, batch,
      df => df.select($"user_id".as("k"), expr("ts div 1000").as("t"),
        $"event_id".as("i"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vq")),
      statePath, ckpt)
    spark.read.parquet(statePath)
      .select($"k".as("user_id"), $"n".as("n_events"), $"peak_c",
        shiftright($"best_key", 31).as("max_dd_c"),
        (lit((1L << 31) - 1) -
          $"best_key".bitwiseAND(lit((1L << 31) - 1))).as("dd_event"))
      .orderBy($"user_id")
  }

  private[graft] lazy val q85_sql = q84_sql

  // ---------------------------------------------------------------- q81
  // Streaming per-user EMA — q70's live twin: the same sequential Ema
  // fold per micro-batch, seeded by the PHANTOM carry-in whose value
  // IS the stored EMA (Ema's first-row-seeds rule), so every streamed
  // per-event value is BIT-EQUAL to the batch fold and the oracle IS
  // q70's SQL. State is (last_t, last_i, last_ema) per user — bounded
  // by user cardinality; results append per batch.
  def q81_stream_ema(spark: SparkSession, dir: String): DataFrame = {
    val batch = t(spark, dir, "events")
      .select($"user_id", $"ts", $"value", $"event_id")
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val nChunks = 4
    val base = s"/tmp/graft_stream/$key/ema_c${nChunks}" +
      s"_s${srcStamp(dir, "events.parquet")}"
    val (stage, statePath, resultPath, ckpt) =
      (s"$base/feed", s"$base/state", s"$base/result", s"$base/ckpt")
    if (!new java.io.File(s"$stage/_SUCCESS").exists()) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      Streams.stageTimeOrderedFeed(batch, "ts", nChunks, stage)
    }
    Streams.emaIngest(spark, stage, batch,
      df => df.select($"user_id".as("k"), $"ts".as("t"),
        $"event_id".as("i"), $"value".as("v")),
      aNum = 1, aDen = 2, statePath, resultPath, ckpt)
    spark.read.parquet(resultPath)
      .select($"k".as("user_id"), $"i".as("event_id"), $"ema")
      .orderBy($"user_id", $"event_id")
  }

  private[graft] lazy val q81_sql = q70_sql

  // ---------------------------------------------------------------- q82
  // Per-user upper CUSUM change detection (Page 1954 — the sequential
  // drift detector next to EMA in the kdb scan family; operators/Cusum
  // scaladoc has the recursion): S_t = max(0, S_{t−1} + (vq_t − kRef))
  // over the (ts, event_id) order, ENTIRELY in ×100-cent integers (the
  // q68 convention) so the fold replays bit-for-bit as a recursive CTE
  // with no rounding anywhere. kRef = 5000 cents ≈ the measured mean
  // event value (median 34.6, mean 49.6 — the cut was measured before
  // the query was written): S accumulates above-typical runs and
  // resets when the evidence empties.
  def q82_cusum(spark: SparkSession, dir: String): DataFrame =
    operators.Cusum.cusum(t(spark, dir, "events"), "user_id", "ts",
        "event_id", expr("CAST(round(value * 100) AS BIGINT)"),
        kRef = 5000L)
      .orderBy($"user_id", $"event_id")

  // ---------------------------------------------------------------- q83
  // Streaming per-user CUSUM — q82's live twin (the production shape
  // of a drift monitor IS the live feed): the same integer Cusum fold
  // per micro-batch, seeded by the v = stored_S + kRef phantom (its
  // own fold step reproduces stored_S exactly — see
  // Streams.cusumIngest), so every streamed per-event S is the integer
  // the batch fold produces and the oracle IS q82's SQL.
  def q83_stream_cusum(spark: SparkSession, dir: String): DataFrame = {
    val batch = t(spark, dir, "events")
      .select($"user_id", $"ts", $"value", $"event_id")
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val nChunks = 4
    val base = s"/tmp/graft_stream/$key/cusum_c${nChunks}" +
      s"_s${srcStamp(dir, "events.parquet")}"
    val (stage, statePath, resultPath, ckpt) =
      (s"$base/feed", s"$base/state", s"$base/result", s"$base/ckpt")
    if (!new java.io.File(s"$stage/_SUCCESS").exists()) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      Streams.stageTimeOrderedFeed(batch, "ts", nChunks, stage)
    }
    Streams.cusumIngest(spark, stage, batch,
      df => df.select($"user_id".as("k"), $"ts".as("t"),
        $"event_id".as("i"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vq")),
      kRef = 5000L, statePath, resultPath, ckpt)
    spark.read.parquet(resultPath)
      .select($"k".as("user_id"), $"i".as("event_id"), $"s")
      .orderBy($"user_id", $"event_id")
  }

  private[graft] lazy val q83_sql = q82_sql

  private[graft] val q82_sql =
    """WITH RECURSIVE b AS (
      |  SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS vq,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY ts, event_id) AS rn
      |  FROM events),
      |rec AS (
      |  SELECT user_id, event_id, rn,
      |    GREATEST(CAST(0 AS BIGINT), vq - 5000) AS s FROM b WHERE rn = 1
      |  UNION ALL
      |  SELECT b.user_id, b.event_id, b.rn,
      |    GREATEST(CAST(0 AS BIGINT), rec.s + b.vq - 5000)
      |  FROM rec JOIN b ON b.user_id = rec.user_id AND b.rn = rec.rn + 1)
      |SELECT user_id, event_id, s FROM rec
      |ORDER BY user_id, event_id""".stripMargin

  // shape: one key repartition, in-partition sort, one sequential fold
  // pass (operators/Ema — keys never straddle partitions, so folds run
  // parallel across keys). α = 1/2 as the rational 1/2; the per-step
  // chain is identical to the DuckDB recursive-CTE replay, so the
  // doubles hash-match with NO rounding.
  def q70_ema(spark: SparkSession, dir: String): DataFrame =
    operators.Ema.ema(t(spark, dir, "events"), "user_id", "ts",
        "event_id", "value", aNum = 1, aDen = 2)
      .orderBy($"user_id", $"event_id")

  private[graft] val q70_sql =
    """WITH RECURSIVE b AS (
      |  SELECT user_id, event_id, value,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY ts, event_id) AS rn
      |  FROM events),
      |rec AS (
      |  SELECT user_id, event_id, rn, value AS ema FROM b WHERE rn = 1
      |  UNION ALL
      |  SELECT b.user_id, b.event_id, b.rn,
      |    (1 * b.value + 1 * rec.ema) / 2
      |  FROM rec JOIN b ON b.user_id = rec.user_id AND b.rn = rec.rn + 1)
      |SELECT user_id, event_id, ema FROM rec
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q71
  // Deterministic exact MODE per slice — Spark's `mode` breaks ties
  // arbitrarily (not replayable); the census form makes the tie-break
  // total: min value among max-count values, via ONE value census
  // (cells cross the shuffle, never rows — the q65 shape) and a
  // min_by/struct argmax. Also reports the count and the number of
  // tied values (the governance detail an "arbitrary mode" hides).
  def q71_mode(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_quantity".cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
      .groupBy($"l_returnflag")
      // (max count, then min value) as ONE integer argmax key — valid
      // because 0 <= v < 64 (the q17 composite-order-key rule)
      .agg(max_by($"v", $"c" * 64 - $"v").as("mode_v"),
        max($"c").as("mode_n"),
        count(lit(1)).as("n_values"))
      .orderBy($"l_returnflag")

  private[graft] val q71_sql =
    """WITH c AS (
      |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v,
      |    COUNT(*) AS c
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT l_returnflag,
      |  arg_max(v, c * 64 - v) AS mode_v,
      |  MAX(c) AS mode_n,
      |  COUNT(*) AS n_values
      |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q72
  // SESSIONIZATION (the event-analytics primitive): per user, a new
  // session starts when the gap to the previous event exceeds 8 h (the
  // median inter-event gap in this corpus is ~7.3 h, so sessions are
  // multi-event and the running-sum logic is actually exercised);
  // session ids are the running count of session starts — two windows
  // sharing ONE user_id exchange (lag + running sum), then the
  // per-session census. Integer ns arithmetic; the oracle replays at µs
  // (ts_ns = µs·1000 exactly, so the gap predicates agree).
  def q72_sessionize(spark: SparkSession, dir: String): DataFrame = {
    val gapNs = 8L * 3600 * 1000 * 1000 * 1000
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wRun = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    t(spark, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("new_s",
        when(lag($"ts", 1).over(w).isNull ||
          $"ts" - lag($"ts", 1).over(w) > gapNs, 1L).otherwise(0L))
      .withColumn("session_n", sum($"new_s").over(wRun))
      .groupBy($"user_id", $"session_n")
      .agg(count(lit(1)).as("n_events"),
        expr("min(ts) div 1000").as("start_us"),
        expr("max(ts) div 1000").as("end_us"),
        expr("(max(ts) - min(ts)) div 1000").as("dur_us"),
        countDistinct($"event_type").as("n_types"))
      .orderBy($"user_id", $"session_n")
  }

  private[graft] val q72_sql =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type
      |           FROM events),
      |f AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
      |                       OR us - lag(us) OVER w > 28800000000
      |                     THEN 1 ELSE 0 END AS new_s
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id
      |        ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session_n
      |      FROM f)
      |SELECT user_id, CAST(session_n AS BIGINT) AS session_n,
      |  COUNT(*) AS n_events, MIN(us) AS start_us, MAX(us) AS end_us,
      |  MAX(us) - MIN(us) AS dur_us,
      |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
      |FROM s GROUP BY user_id, session_n
      |ORDER BY user_id, session_n""".stripMargin

  // ---------------------------------------------------------------- q73
  // FUNNEL analysis (view → click → purchase): per user the earliest
  // view, the first click strictly after it, the first purchase
  // strictly after that. Three conditional-min aggregations chained
  // through two broadcast-size joins on user_id (the per-user row is
  // 150-ish at any SF slice — each stage's table is |users|, never
  // |events|); stage reached = how deep the chain got. µs output.
  def q73_funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .select($"user_id", $"ts", $"event_type")
    val s1 = e.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t1"))
    val s2 = e.filter($"event_type" === "click").join(s1, "user_id")
      .filter($"ts" > $"t1")
      .groupBy($"user_id").agg(min($"ts").as("t2"))
    val s3 = e.filter($"event_type" === "purchase").join(s2, "user_id")
      .filter($"ts" > $"t2")
      .groupBy($"user_id").agg(min($"ts").as("t3"))
    s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
      .select($"user_id",
        expr("t1 div 1000").as("t1_us"),
        expr("t2 div 1000").as("t2_us"),
        expr("t3 div 1000").as("t3_us"),
        (lit(1L) + when($"t2".isNotNull, 1L).otherwise(0L) +
          when($"t3".isNotNull, 1L).otherwise(0L)).as("stage"))
      .orderBy($"user_id")
  }

  private[graft] val q73_sql =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type
      |           FROM events),
      |s1 AS (SELECT user_id, MIN(us) AS t1 FROM e
      |       WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, MIN(us) AS t2 FROM e JOIN s1 USING (user_id)
      |       WHERE event_type = 'click' AND us > t1 GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, MIN(us) AS t3 FROM e JOIN s2 USING (user_id)
      |       WHERE event_type = 'purchase' AND us > t2 GROUP BY e.user_id)
      |SELECT s1.user_id, t1 AS t1_us, t2 AS t2_us, t3 AS t3_us,
      |  1 + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
      |    + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS stage
      |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
      |ORDER BY user_id""".stripMargin
}
