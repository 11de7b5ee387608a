package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.tools.Stage._

/** Second batch of oracle-checked operators: json structs, array and
  * date/math scalar functions, conditional aggregation, subqueries, pivot,
  * and a real Structured Streaming run (readStream → watermarked window →
  * memory sink) whose result is still DuckDB-checkable. */
object Relational2 {

  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** from_json into a typed struct (JsonToStructs — q21's get_json_object
    * sibling), aggregated per event type. */
  def q25FromJson(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("parsed", from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")))
      .groupBy(col("event_type"))
      .agg(sum(col("parsed.k")).as("sum_k"),
        count(col("parsed.k")).as("n_k"))
      .orderBy(col("event_type"))

  // CAST ... AS BIGINT: DuckDB integer SUM yields HUGEINT, Spark BIGINT —
  // same values, different bytes (round-1's only two hash fails).
  val q25Sql: String =
    """SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
      |  COUNT(CAST(json_extract_string(props, '$.k') AS INT)) AS n_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Array scalar functions over the embedding column (no arithmetic —
    * element extraction and extremes only, so float values pass through
    * bit-identically). */
  def q26ArrayFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        array_max(col("embedding")).cast("double").as("max_v"),
        array_min(col("embedding")).cast("double").as("min_v"),
        element_at(col("embedding"), 1).cast("double").as("first_v"))
      .orderBy(col("vec_id"))

  val q26Sql: String =
    """SELECT vec_id,
      |  len(embedding) AS dim,
      |  CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS max_v,
      |  CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS min_v,
      |  CAST(embedding[1] AS DOUBLE) AS first_v
      |FROM embeddings
      |ORDER BY vec_id""".stripMargin

  /** Date-part extraction + date arithmetic over orders. Day-of-week uses
    * the ISO numbering (Spark weekday()+1 == DuckDB isodow) — the two
    * engines' default dayofweek origins differ. */
  def q27DateFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        (weekday(col("o_orderdate")) + 1).as("isodow"),
        datediff(to_date(col("o_orderdate")), lit("2020-01-01").cast("date"))
          .as("days_since"))
      .orderBy(col("o_orderkey"))

  val q27Sql: String =
    """SELECT o_orderkey,
      |  year(o_orderdate) AS y,
      |  month(o_orderdate) AS m,
      |  day(o_orderdate) AS d,
      |  isodow(o_orderdate) AS isodow,
      |  datediff('day', DATE '2020-01-01', CAST(o_orderdate AS DATE)) AS days_since
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** Math scalar functions (IEEE-deterministic subset: sqrt/abs/floor/
    * ceil/round — no libm-divergent transcendentals). */
  def q28MathFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        sqrt(col("l_extendedprice")).as("sqrt_price"),
        abs(col("l_discount") - 0.05).as("abs_ctr"),
        floor(col("l_extendedprice")).cast("long").as("floor_price"),
        ceil(col("l_extendedprice")).cast("long").as("ceil_price"),
        round(col("l_extendedprice"), 1).as("round_price"),
        pmod(col("l_orderkey"), lit(97)).as("mod97"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))

  val q28Sql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice,
      |  sqrt(l_extendedprice) AS sqrt_price,
      |  abs(l_discount - 0.05) AS abs_ctr,
      |  CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
      |  CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
      |  round(l_extendedprice, 1) AS round_price,
      |  l_orderkey % 97 AS mod97
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin

  /** Conditional aggregation: count/sum over predicates (FILTER clause
    * semantics via when()). */
  def q29CondAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(when(col("l_discount") > 0.05, 1)).as("n_high_disc"),
        count(when(col("l_quantity") < 10, 1)).as("n_small_qty"),
        dsum(when(col("l_linestatus") === "F", col("l_extendedprice"))
          .otherwise(lit(0.0))).as("sum_f_price"))
      .orderBy(col("l_returnflag"))

  val q29Sql: String =
    """SELECT l_returnflag,
      |  COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_high_disc,
      |  COUNT(*) FILTER (WHERE l_quantity < 10) AS n_small_qty,
      |  CAST(SUM(CAST(CASE WHEN l_linestatus = 'F' THEN l_extendedprice ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS sum_f_price
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Correlated scalar subquery (SQL frontend). */
  def q30ScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    spark.sql(
      """SELECT c_custkey,
        |  (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer c
        |ORDER BY c_custkey""".stripMargin)
  }

  val q30Sql: String =
    """SELECT c_custkey,
      |  (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
      |FROM customer c
      |ORDER BY c_custkey""".stripMargin

  /** IN-subquery (rewritten by Catalyst to a semi join). */
  def q31InSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir).createOrReplaceTempView("part")
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT p_partkey, p_name
        |FROM part
        |WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
        |ORDER BY p_partkey""".stripMargin)
  }

  val q31Sql: String =
    """SELECT p_partkey, p_name
      |FROM part
      |WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
      |ORDER BY p_partkey""".stripMargin

  /** Pivot: order counts per status × priority, statuses as columns.
    * The oracle spells it as conditional aggregation — the relational
    * content of a pivot. */
  def q32Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("o_orderpriority"))

  val q32Sql: String =
    """SELECT o_orderpriority,
      |  COALESCE(COUNT(*) FILTER (WHERE o_orderstatus = 'F'), 0) AS F,
      |  COALESCE(COUNT(*) FILTER (WHERE o_orderstatus = 'O'), 0) AS O,
      |  COALESCE(COUNT(*) FILTER (WHERE o_orderstatus = 'P'), 0) AS P
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Run `body` under streaming-scoped session confs, restored after:
    * nanos-as-long for the raw events parquet, and state-store-sized
    * shuffle partitions. A streaming aggregation's shuffle partition count
    * is FROZEN into the checkpoint and every partition carries a
    * state-store instance per micro-batch — so it must be sized to STATE
    * volume (here: a handful of grouping keys), not the batch-analytics
    * default. Measured at sf0.1/local[32]: 32 partitions → 3.5 s per sink
    * query; 8 → 2.0 s, with identical results. */
  private def withStreamScopedConf[A](spark: SparkSession)(body: => A): A = {
    val scoped = Seq("spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.shuffle.partitions" -> "8")
    val prev = scoped.map { case (k, _) => k -> spark.conf.getOption(k) }
    scoped.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** A REAL Structured Streaming run, DuckDB-checked: readStream over the
    * events parquet → watermarked tumbling window aggregation → memory
    * sink in Complete mode (all windows emitted once the bounded input
    * drains). The streaming plan is the exact one a kafka/file deployment
    * runs; with a bounded source its result equals the batch aggregation,
    * which is what the oracle computes. */
  def q33StreamTumbling(spark: SparkSession, dir: String): DataFrame = withStreamScopedConf(spark) {
    val schema = Tables.parquetSchema(spark, s"$dir/events.parquet")
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet") // the file source wants a directory
      .parquet(dir)
      .transform(Tables.normalizeTs)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("window.start").cast("long").as("bucket"),
        col("event_type"), col("n"), col("sum_value"))
    val name = s"stream_tumbling_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    // checkpoint the sink contents and drop the backing temp view —
    // repeated bench/gate runs would otherwise pin every run's full
    // result set in driver memory for the session lifetime
    val out = spark.table(name).stage()
    spark.catalog.dropTempView(name)
    out.orderBy(col("bucket"), col("event_type"))
  }

  val q33Sql: String =
    """SELECT CAST(FLOOR(epoch(ts) / 1800) * 1800 AS BIGINT) AS bucket, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY bucket, event_type""".stripMargin

  /** The same streaming aggregation through a checkpointed parquet FILE
    * sink in Append mode, then read back from disk — this puts the
    * at-least-once sink path (offsets, commits, finalized windows)
    * inside the correctness gate, not just the memory sink. Append mode
    * only emits a window once the watermark passes its end, so the last
    * `watermark` of event time never finalizes on a bounded input; the
    * oracle applies the identical cutoff (window_end <= max(ts) −
    * watermark). */
  def q50StreamFileSink(spark: SparkSession, dir: String): DataFrame = withStreamScopedConf(spark) {
    val base = graft.tools.TempDirs.createFast("graft-q50")
    try {
      val schema = Tables.parquetSchema(spark, s"$dir/events.parquet")
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .transform(Tables.normalizeTs)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
        .select(col("window.start").cast("long").as("bucket"),
          col("event_type"), col("n"), col("sum_value"))
      val q = stream.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
      // eager localCheckpoint materializes the read-back so the sink/
      // checkpoint directories can be deleted before returning (repeated
      // bench/correctness runs would otherwise accumulate orphaned dirs)
      Tables.parquet(spark, s"$base/out").stage()
        .orderBy(col("bucket"), col("event_type"))
    } finally graft.tools.TempDirs.deleteRecursively(base)
  }

  val q50Sql: String =
    """SELECT * FROM (
      |  SELECT CAST(FLOOR(epoch(ts) / 1800) * 1800 AS BIGINT) AS bucket, event_type,
      |    COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |  FROM events
      |  GROUP BY 1, 2)
      |WHERE bucket + 1800 <= (SELECT epoch(max(ts)) - 600 FROM events)
      |ORDER BY bucket, event_type""".stripMargin

  /** The q50 aggregation through the ENGINE'S OWN DSv2 streaming sink
    * (graft.sources.PagedTableSource, STREAMING_WRITE): per-epoch staged
    * pages published by an idempotent epoch commit — the exactly-once
    * sink protocol itself sits inside the bitwise gate, because any
    * dropped/duplicated epoch changes the read-back counts. The sink is
    * all-string (the paged layout), so the aggregate casts to string on
    * the way out and back on the way in; same append-mode watermark
    * cutoff as q50. */
  def q84StreamPagedSink(spark: SparkSession, dir: String): DataFrame = withStreamScopedConf(spark) {
    val base = graft.tools.TempDirs.createFast("graft-q84")
    try {
      val schema = Tables.parquetSchema(spark, s"$dir/events.parquet")
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .transform(Tables.normalizeTs)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
        .select(col("window.start").cast("long").cast("string").as("bucket"),
          col("event_type"),
          col("n").cast("string").as("n"),
          col("sum_value").cast("string").as("sum_value"))
      val t0 = System.nanoTime()
      val q = stream.writeStream
        .format("graft.sources.PagedTableSource")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
      graft.tools.PhaseTiming.record("stream", (System.nanoTime() - t0) / 1e9)
      val t1 = System.nanoTime()
      val out = spark.read.format("graft.sources.PagedTableSource").load(s"$base/out")
        .select(col("bucket").cast("long").as("bucket"), col("event_type"),
          col("n").cast("long").as("n"),
          col("sum_value").cast("double").as("sum_value"))
        .stage()
        .orderBy(col("bucket"), col("event_type"))
      graft.tools.PhaseTiming.record("readback", (System.nanoTime() - t1) / 1e9)
      out
    } finally graft.tools.TempDirs.deleteRecursively(base)
  }

  /** The other half of the DSv2 streaming story: a streaming READ from
    * the engine's own paged source — the Spark-first re-expression of the
    * reference's S5 change-detection wait (poll the page until new rows
    * appear, `flows/etl.py:119-127`). The paged dir is written in two
    * waves through the DSv2 batch writer (append mode — K2 chunked
    * append); the MicroBatchStream's file-set offsets pick up exactly
    * the newly published pages on each poll, so the read-back equals the
    * full table iff change detection neither missed nor re-read a page.
    * Values ship as decimal strings (the paged layout is all-string);
    * the read-back casts them back before aggregating. */
  def q85StreamPagedSource(spark: SparkSession, dir: String): DataFrame = withStreamScopedConf(spark) {
    val base = graft.tools.TempDirs.createFast("graft-q85")
    try {
      val paged = s"$base/pages"
      val ev = Tables.parquet(spark, s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"),
          col("value").cast(DecimalType(18, 2)).cast("string").as("value"))
      def wave(rem: Int): Unit = ev
        .filter(pmod(col("event_id"), lit(2)) === rem)
        .select(col("event_type"), col("value"))
        .write.format("graft.sources.PagedTableSource").mode("append").save(paged)
      wave(0)
      val q = spark.readStream.format("graft.sources.PagedTableSource").load(paged)
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .start()
      try {
        q.processAllAvailable() // drain wave 0 ...
        wave(1)                 // ... then new pages appear ...
        q.processAllAvailable() // ... and the next poll must catch them
      } finally q.stop()
      Tables.parquet(spark, s"$base/out")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
        .stage()
        .orderBy(col("event_type"))
    } finally graft.tools.TempDirs.deleteRecursively(base)
  }

  val q85Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1
      |ORDER BY event_type""".stripMargin

  /** A stateful SESSION-window aggregation through the same checkpointed
    * parquet file sink as q50 — puts the streaming session-merge state
    * path (merging session state store, append-mode finalization) inside
    * the bitwise gate, not just the MemoryStream specs. A session closes
    * after 30 minutes without an event for its key; append mode emits a
    * session only once the 10-minute watermark passes its end, so the
    * oracle sessionizes with the classic lag/cumulative-sum trick and
    * applies the identical cutoff. Session bounds are emitted as epoch
    * MICROS: starts are raw event times (not bucket-aligned), and
    * second-truncation could alias two sessions of the same key. */
  def q51StreamSessionSink(spark: SparkSession, dir: String): DataFrame = withStreamScopedConf(spark) {
    val base = graft.tools.TempDirs.createFast("graft-q51")
    try {
      val schema = Tables.parquetSchema(spark, s"$dir/events.parquet")
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .transform(Tables.normalizeTs)
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
        .select(unix_micros(col("session_window.start")).as("session_start"),
          unix_micros(col("session_window.end")).as("session_end"),
          col("event_type"), col("n"), col("sum_value"))
      val q = stream.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
      Tables.parquet(spark, s"$base/out").stage()
        .orderBy(col("event_type"), col("session_start"))
    } finally graft.tools.TempDirs.deleteRecursively(base)
  }

  /** Session merge mirrored relationally: a gap ≥ 30 min starts a new
    * session (Spark merges an event iff it lands strictly before
    * prev_ts + gap); session_end = last event + gap. */
  val q51Sql: String =
    """WITH m AS (
      |  SELECT event_type, epoch_us(ts) AS tus, value,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
      |           OVER (PARTITION BY event_type ORDER BY ts) >= 1800000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events),
      |s AS (
      |  SELECT event_type, tus, value,
      |    SUM(new_s) OVER (PARTITION BY event_type ORDER BY tus
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM m),
      |sess AS (
      |  SELECT event_type,
      |    MIN(tus) AS session_start,
      |    MAX(tus) + 1800000000 AS session_end,
      |    COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |  FROM s GROUP BY event_type, sid)
      |SELECT session_start, session_end, event_type, n, sum_value
      |FROM sess
      |WHERE session_end <= (SELECT MAX(epoch_us(ts)) - 600000000 FROM events)
      |ORDER BY event_type, session_start""".stripMargin

  /** Streaming dedup (dropDuplicatesWithinWatermark) through the
    * checkpointed parquet file sink — the last previously spec-only
    * stateful streaming op, now inside the bitwise gate. Keys are
    * (event_type, 10-minute bucket); only the KEY columns are emitted,
    * because which physical row survives dedup is processing-order-
    * dependent, but the surviving key set equals DISTINCT — which is what
    * the oracle computes. The bounded file source processes as one batch
    * (watermark still 0), so no row is late-dropped and state covers the
    * whole input. */
  def q53StreamDedupSink(spark: SparkSession, dir: String): DataFrame = withStreamScopedConf(spark) {
    val base = graft.tools.TempDirs.createFast("graft-q53")
    try {
      val schema = Tables.parquetSchema(spark, s"$dir/events.parquet")
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .transform(Tables.normalizeTs)
        .withColumn("bucket", expr("CAST(ts AS LONG) div 600 * 600"))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_type", "bucket")
        .select(col("event_type"), col("bucket"))
      val q = stream.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
      Tables.parquet(spark, s"$base/out").stage()
        .orderBy(col("event_type"), col("bucket"))
    } finally graft.tools.TempDirs.deleteRecursively(base)
  }

  val q53Sql: String =
    """SELECT DISTINCT event_type,
      |  CAST(FLOOR(epoch(ts) / 600) * 600 AS BIGINT) AS bucket
      |FROM events
      |ORDER BY event_type, bucket""".stripMargin

  /** Stream-stream INTERVAL join through the checkpointed file sink: two
    * watermarked streams over the events source (clicks and purchases),
    * joined on user within a 2-hour event-time window — the flagship
    * Structured Streaming join, previously only MemoryStream-spec-checked.
    * An append-mode INNER stream-stream join emits each match as soon as
    * both sides have arrived (watermarks only bound state retention, not
    * emission), so on a bounded source the emitted set equals the batch
    * interval join — which is exactly what the oracle computes, no cutoff
    * needed. */
  def q59StreamStreamJoin(spark: SparkSession, dir: String): DataFrame = withStreamScopedConf(spark) {
    val base = graft.tools.TempDirs.createFast("graft-q59")
    try {
      val schema = Tables.parquetSchema(spark, s"$dir/events.parquet")
      val src = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .transform(Tables.normalizeTs)
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "10 minutes")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "10 minutes")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 2 HOURS"))
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          unix_micros(col("click_ts")).as("click_us"),
          unix_micros(col("purchase_ts")).as("purchase_us"))
      val q = joined.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
      Tables.parquet(spark, s"$base/out").stage()
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    } finally graft.tools.TempDirs.deleteRecursively(base)
  }

  val q59Sql: String =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
      |ORDER BY c.user_id, click_id, purchase_id""".stripMargin

  /** LEFT OUTER stream-stream join — the full stateful semantics: matches
    * emit as both sides arrive, but a null-extended row for an unmatched
    * click emits only once the global watermark (min over both inputs of
    * max event time − delay) passes the click's join window, proving the
    * left side's state was held and evicted correctly. The oracle runs the
    * batch left join and keeps null-extended rows only where
    * click_ts + 2h ≤ watermark — verified to reproduce the streaming
    * emission set exactly (1934 null-extended + 69 matched at sf0.01). */
  def q60StreamOuterJoin(spark: SparkSession, dir: String): DataFrame = withStreamScopedConf(spark) {
    val base = graft.tools.TempDirs.createFast("graft-q60")
    try {
      val schema = Tables.parquetSchema(spark, s"$dir/events.parquet")
      val src = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .transform(Tables.normalizeTs)
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "10 minutes")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "10 minutes")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 2 HOURS"),
        "left_outer")
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          unix_micros(col("click_ts")).as("click_us"),
          unix_micros(col("purchase_ts")).as("purchase_us"))
      val q = joined.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
      Tables.parquet(spark, s"$base/out").stage()
        .orderBy(col("user_id"), col("click_id"),
          coalesce(col("purchase_id"), lit(-1L)))
    } finally graft.tools.TempDirs.deleteRecursively(base)
  }

  val q60Sql: String =
    """WITH c AS (SELECT user_id, event_id AS click_id, ts FROM events
      |           WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id AS purchase_id, ts FROM events
      |      WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT c.user_id, c.click_id, p.purchase_id,
      |    epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us,
      |    c.ts AS cts
      |  FROM c LEFT JOIN p ON c.user_id = p.user_id
      |    AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR),
      |wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
      |         - INTERVAL 10 MINUTE AS w)
      |SELECT user_id, click_id, purchase_id, click_us, purchase_us
      |FROM j
      |WHERE purchase_id IS NOT NULL
      |   OR cts + INTERVAL 2 HOUR <= (SELECT w FROM wm)
      |ORDER BY user_id, click_id, COALESCE(purchase_id, -1)""".stripMargin

  /** Hive-style partitioned write + partition-pruned read — THE 100 TB
    * layout technique: documents land partitioned by lang, and the
    * read-back filter prunes to the matching directory before any file is
    * opened (PlanRegressionSpec asserts PartitionFilters on the scan; a
    * full-scan-then-filter plan fails there). The aggregation result is
    * oracled against the unpartitioned source — layout must never change
    * semantics. */
  def q61PartitionedWrite(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.tools.TempDirs.createFast("graft-q61")
    try {
      Tables.documents(spark, dir)
        .write.mode("overwrite").partitionBy("lang").parquet(s"$base/docs")
      Tables.parquet(spark, s"$base/docs")
        .filter(col("lang") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
        .stage() // materialize before the temp layout is deleted
    } finally graft.tools.TempDirs.deleteRecursively(base)
  }

  val q61Sql: String =
    """SELECT source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE lang = 'en'
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** Mergeable HLL sketches (Apache DataSketches, built into Spark 4):
    * per-group sketch aggregation + estimate — the approximate-distinct
    * pattern that scales to 100 TB because partial sketches merge
    * commutatively across partitions (and can be persisted and re-merged
    * across days). DuckDB's approx_count_distinct uses a different HLL
    * implementation, so this is rows-only; the estimates are
    * deterministic (merge is order-insensitive) and the spec bounds the
    * relative error vs exact COUNT(DISTINCT). */
  def q62HllSketch(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .orderBy(col("event_type"))

  /** [[q62HllSketch]]'s DECISION layer through the HASH GATE: the HLL
    * estimate itself is engine-specific (rows-only by §5.5), but the
    * published accuracy claim is a boolean the gate can check. lgK=12
    * DataSketches HLL has rsd ≈ 1.04/√4096 ≈ 1.6 %; `within_bound`
    * asserts the per-group relative error is inside 5 % (≈ 3σ — at the
    * fixture's fixed hash seeds the observed error is deterministic, so
    * this is stable, not flaky). The oracle synthesizes TRUE — a
    * one-sided claim row: a sketch-merge or estimator bug that drifts
    * any group past 5 % flips Spark's boolean and breaks the hash,
    * while `exact_users` rides along fully cross-checked. */
  def q62HllBound(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users").cast("double") /
          col("exact_users").cast("double") - 1.0) <= 0.05)
          .as("within_bound"))
      .orderBy(col("event_type"))

  val q62HllBoundSql: String =
    """SELECT event_type,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      |  TRUE AS within_bound
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** One micro-batch of STREAMING HLL maintenance (r16 — the second
    * mergeable-sketch family under the LogState monoid fold, beside the
    * CMS counter table): state is one `sk` log of per-group DataSketches
    * HLL binaries (a few KB per group per epoch); fold = `hll_union_agg`
    * per group — HLL union is the commutative/associative merge the
    * sketch was designed around, so compaction and readers share it.
    * Epoch-keyed overwrite derived from the batch alone —
    * replay-idempotent. */
  def q62HllStreamApplyBatch(batch: DataFrame, epoch: Long,
                             statePath: String,
                             compactEvery: Int = 4): Unit = {
    val sp = batch.sparkSession
    graft.tools.LogState.requireNoFuture(s"$statePath/sk", epoch)
    batch.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .write.mode("overwrite").parquet(s"$statePath/sk/delta/v$epoch")
    graft.tools.LogState.maintain(sp, Seq(s"$statePath/sk"), epoch,
      compactEvery)(
      _.groupBy(col("event_type")).agg(hll_union_agg(col("sk")).as("sk")))
  }

  /** STREAMING HLL through the HASH GATE via the decision layer:
    * contiguous event_id-range batches sketch per epoch; the FOLDED
    * union answers the same ≤5 % accuracy claim as [[q62HllBound]],
    * against the SAME oracle (within_bound TRUE + exact_users fully
    * cross-checked). The folded sketch is load-bearing — a lost epoch
    * drops that id-range's users and the affected groups' estimates
    * fall ~25 % short, far outside the bound; a double-published
    * replay is absorbed by design (HLL union is idempotent — the gate
    * pins that too, via the replay spec). */
  def q62HllBoundStream(spark: SparkSession, dir: String,
                        epochs: Int = 4): DataFrame = {
    val base = graft.tools.TempDirs.createFast("graft-hllstream")
    try {
      val statePath = s"$base/state"
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("event_type"), col("user_id"))
        .stage()
      val mm = ev.agg(min(col("event_id")), max(col("event_id"))).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val width = (hi - lo) / epochs + 1
      (0 until epochs).foreach { k =>
        q62HllStreamApplyBatch(
          ev.filter(expr(s"(event_id - $lo) div $width") === k),
          k, statePath, compactEvery = 2)
      }
      val folded = graft.tools.LogState.readAsOf(spark,
          s"$statePath/sk", epochs - 1L)
        .groupBy(col("event_type"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
          .as("approx_users"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      exact.join(folded, Seq("event_type"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users").cast("double") /
            col("exact_users").cast("double") - 1.0) <= 0.05)
            .as("within_bound"))
        .stage()
        .orderBy(col("event_type"))
    } finally graft.tools.TempDirs.deleteRecursively(base)
  }

  /** The foreachBatch sink — the production workhorse for sinks Spark has
    * no native writer for (JDBC upserts, multi-sink fanout): a
    * complete-mode aggregation hands each micro-batch DataFrame to user
    * code, which overwrites the target; the final batch therefore equals
    * the batch aggregation, which the oracle computes (same result set as
    * q33, arrived at through the foreachBatch path). */
  def q63ForeachBatchSink(spark: SparkSession, dir: String): DataFrame = withStreamScopedConf(spark) {
    val base = graft.tools.TempDirs.createFast("graft-q63")
    try {
      val schema = Tables.parquetSchema(spark, s"$dir/events.parquet")
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .transform(Tables.normalizeTs)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
        .select(col("window.start").cast("long").as("bucket"),
          col("event_type"), col("n"), col("sum_value"))
      // Phases split the stream run (checkpoint setup + micro-batches +
      // teardown) from the sink read-back, so a slow bench number on a
      // contended machine is attributable without re-profiling.
      val t0 = System.nanoTime()
      val q = stream.writeStream
        .outputMode("complete")
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(s"$base/out")
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      graft.tools.PhaseTiming.record("stream", (System.nanoTime() - t0) / 1e9)
      val t1 = System.nanoTime()
      // localCheckpoint stores NON-REPLICATED executor-local blocks —
      // correct in single-JVM local mode (the sandbox contract); a
      // multi-executor cluster would lose blocks on executor failure, so
      // there this would be a reliable checkpoint() or a copy-out before
      // the temp sink dir is deleted.
      val out = Tables.parquet(spark, s"$base/out").stage()
        .orderBy(col("bucket"), col("event_type"))
      graft.tools.PhaseTiming.record("readback", (System.nanoTime() - t1) / 1e9)
      out
    } finally graft.tools.TempDirs.deleteRecursively(base)
  }

  /** JSON-lines source round-trip: documents written as JSONL, read back
    * with an explicit schema, aggregated — the oracle runs on the parquet
    * source, so serialization through a second format must be
    * semantics-preserving (schema-carrying formats are not a given at
    * 100 TB; explicit schema avoids the inference scan). */
  def q64JsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.tools.TempDirs.createFast("graft-q64")
    try {
      val docs = Tables.documents(spark, dir)
      docs.write.mode("overwrite").json(s"$base/docs")
      spark.read.schema(docs.schema).json(s"$base/docs")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(length(col("text"))).as("sum_text_len"))
        .orderBy(col("lang"))
        .stage()
    } finally graft.tools.TempDirs.deleteRecursively(base)
  }

  val q64Sql: String =
    """SELECT lang, COUNT(*) AS n,
      |  CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_text_len
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** CUSTOM stateful sessionization (flatMapGroupsWithState with explicit
    * per-user state and an event-time timeout — StreamingOps.sessionize)
    * through the gate: sessions closed by a later in-batch event emit
    * unconditionally; each user's LAST session emits only when the
    * timeout fires, i.e. the watermark passes last_event + gap — state
    * retention, timeout scheduling, and eviction are what is checked.
    * The oracle sessionizes per user (strict gap > 2 h, millisecond
    * domain — java.sql.Timestamp.getTime truncates micros) and keeps a
    * user's final session only past the same cutoff. Verified
    * emission-exact: 8298 of 8326 sessions at sf0.01. */
  def q65CustomSessionize(spark: SparkSession, dir: String): DataFrame = withStreamScopedConf(spark) {
    import spark.implicits._
    val schema = Tables.parquetSchema(spark, s"$dir/events.parquet")
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .transform(Tables.normalizeTs)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[graft.streaming.StreamingOps.Event]
    implicit val s: SparkSession = spark
    val sessions = graft.streaming.StreamingOps.sessionize(stream, gapMs = 7200000L)
    val out = sessions.toDF()
      .select(col("user_id"),
        unix_millis(col("session_start")).as("start_ms"),
        unix_millis(col("session_end")).as("end_ms"),
        col("n_events").cast("long").as("n_events"))
    val name = s"custom_sess_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // same cleanup discipline as q33: checkpoint, then drop the temp view
    val result = spark.table(name).stage()
    spark.catalog.dropTempView(name)
    result.orderBy(col("user_id"), col("start_ms"))
  }

  val q65Sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS tms FROM events),
      |m AS (SELECT user_id, tms,
      |  CASE WHEN tms - lag(tms) OVER (PARTITION BY user_id ORDER BY tms, event_id) > 7200000
      |       THEN 1 ELSE 0 END AS new_s FROM e),
      |s AS (SELECT user_id, tms,
      |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY tms
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m),
      |sess AS (SELECT user_id, sid, MIN(tms) AS start_ms, MAX(tms) AS end_ms,
      |         CAST(COUNT(*) AS BIGINT) AS n_events
      |         FROM s GROUP BY user_id, sid),
      |lastsid AS (SELECT user_id, MAX(sid) AS msid FROM sess GROUP BY user_id)
      |SELECT user_id, start_ms, end_ms, n_events
      |FROM sess JOIN lastsid USING (user_id)
      |WHERE sid < msid
      |   OR end_ms + 7200000 < (SELECT MAX(tms) - 600000 FROM e)
      |ORDER BY user_id, start_ms""".stripMargin

  /** Multiset set operations (ALL variants keep duplicates — Spark
    * exceptAll/intersectAll, modeled relationally as count-bag ops). */
  def q39SetOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val a = li.filter(col("l_quantity") < 30).select(col("l_partkey").as("k"))
    val b = li.filter(col("l_discount") > 0.02).select(col("l_partkey").as("k"))
    a.exceptAll(b)
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .orderBy(col("k"))
  }

  val q39Sql: String =
    """SELECT k, COUNT(*) AS n FROM (
      |  SELECT l_partkey AS k FROM lineitem WHERE l_quantity < 30
      |  EXCEPT ALL
      |  SELECT l_partkey FROM lineitem WHERE l_discount > 0.02)
      |GROUP BY k
      |ORDER BY k""".stripMargin

  /** Deterministic global row numbering — the reference's positional
    * pandas index (SURVEY §1 row identity). (`monotonically_increasing_id`
    * is partition-dependent; numbering over an explicit total order is the
    * deterministic form.)
    *
    * NOT `row_number() OVER (ORDER BY ...)`: an unpartitioned window
    * moves the whole table through ONE task (the r12 verdict's single
    * scale-killer). Instead the classic zipWithIndex decomposition, all
    * relational: (1) bucket rows by a monotone key range (bucket b's keys
    * all precede bucket b+1's — floor-divide on the key, one narrow map);
    * (2) per-bucket counts → prefix-sum OFFSETS, a ≤`RowIdBuckets`-row
    * frame folded on the driver (k-bounded collect, same contract as the
    * centroid collects) and broadcast back; (3) `row_number` per bucket —
    * a PARTITIONED window, every bucket numbered in parallel — plus the
    * bucket's offset. Deterministic for any key distribution (empty
    * buckets simply contribute no offset mass); parallelism degrades only
    * if the KEY ITSELF is skewed into few buckets, at which point a
    * quantile-based bucketizer is the drop-in upgrade. */
  private val RowIdBuckets = 32

  def q40RowIds(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    val mm = o.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val bw = math.max(1L, (hi - lo) / RowIdBuckets + 1)
    val bucketed = o.withColumn("b",
      ((col("o_orderkey") - lo) / bw).cast("long"))
    // ≤ RowIdBuckets rows: counts → exclusive prefix sums, on the driver
    val counts = bucketed.groupBy(col("b")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _).init)
    import spark.implicits._
    val offDf = broadcast(offsets.toSeq.toDF("b", "off"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("b")).orderBy(col("o_orderkey"))
    bucketed.join(offDf, Seq("b"))
      .withColumn("row_id",
        col("off") + row_number().over(wB).cast("long") - 1L)
      .select(col("o_orderkey"), col("o_custkey"), col("row_id"))
      .orderBy(col("row_id"))
  }

  val q40Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS row_id
      |FROM orders
      |ORDER BY row_id""".stripMargin

  /** Sliding windows in batch (window = 2×slide, so each event lands in
    * exactly two buckets); the oracle unnests the two candidate starts. */
  def q41SlidingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "30 minutes", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("bucket"),
        col("event_type"), col("n"))
      .orderBy(col("bucket"), col("event_type"))

  val q41Sql: String =
    """SELECT bucket, event_type, COUNT(*) AS n FROM (
      |  SELECT unnest([CAST(FLOOR(epoch(ts) / 900) * 900 AS BIGINT),
      |                 CAST(FLOOR(epoch(ts) / 900) * 900 - 900 AS BIGINT)]) AS bucket,
      |    event_type
      |  FROM events)
      |GROUP BY bucket, event_type
      |ORDER BY bucket, event_type""".stripMargin

  /** Session windows in batch: gap-based per-user sessions via
    * session_window; the oracle derives the same sessions with the classic
    * lag/flag/cumsum idiom over epoch-microseconds (both engines see
    * identical µs values: Spark truncates the ns fixture on read, DuckDB's
    * epoch_us truncates the same way). */
  def q42SessionWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").cast("long").as("session_start"),
        col("user_id"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))

  val q42Sql: String =
    """SELECT session_start, user_id, n_events FROM (
      |  SELECT user_id,
      |    CAST(MIN(us) // 1000000 AS BIGINT) AS session_start,
      |    COUNT(*) AS n_events
      |  FROM (
      |    SELECT user_id, us,
      |      SUM(CASE WHEN prev_us IS NULL OR us - prev_us >= 300000000
      |               THEN 1 ELSE 0 END)
      |        OVER (PARTITION BY user_id ORDER BY us
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |    FROM (
      |      SELECT user_id, epoch_us(ts) AS us,
      |        LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev_us
      |      FROM events))
      |  GROUP BY user_id, session_id)
      |ORDER BY user_id, session_start""".stripMargin

  /** Second string-function batch: substring/pad/reverse/replace/
    * split_part/position — the remainder of the scalar string surface. */
  def q43StringBatch(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(
        col("c_custkey"),
        substring(col("c_name"), 1, 8).as("prefix"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
        reverse(col("c_name")).as("reversed"),
        regexp_replace(col("c_name"), "0", "#").as("replaced"),
        element_at(split(col("c_name"), "#"), 1).as("name_part"),
        instr(col("c_name"), "1").as("pos_one"))
      .orderBy(col("c_custkey"))

  val q43Sql: String =
    """SELECT c_custkey,
      |  substring(c_name, 1, 8) AS prefix,
      |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
      |  reverse(c_name) AS reversed,
      |  replace(c_name, '0', '#') AS replaced,
      |  split_part(c_name, '#', 1) AS name_part,
      |  instr(c_name, '1') AS pos_one
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** RANGE window frame: for each order, how many orders the same
    * customer placed within ±30 days (value-based frame, not row-based —
    * the frame boundary follows the ORDER BY value). */
  def q44RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("d"))
      .rangeBetween(-30, 30)
    Tables.orders(spark, dir)
      .withColumn("d", datediff(to_date(col("o_orderdate")),
        lit("2020-01-01").cast("date")).cast("long"))
      .withColumn("n_nearby", count(lit(1)).over(w))
      .select(col("o_orderkey"), col("o_custkey"), col("d"), col("n_nearby"))
      .orderBy(col("o_orderkey"))
  }

  val q44Sql: String =
    """SELECT o_orderkey, o_custkey, d,
      |  COUNT(*) OVER (PARTITION BY o_custkey ORDER BY d
      |    RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING) AS n_nearby
      |FROM (SELECT o_orderkey, o_custkey,
      |        CAST(datediff('day', DATE '2020-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d
      |      FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  /** INTERSECT ALL (bag semantics — q14's multiset sibling). */
  def q45IntersectAll(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val a = li.filter(col("l_quantity") < 30).select(col("l_partkey").as("k"))
    val b = li.filter(col("l_discount") > 0.02).select(col("l_partkey").as("k"))
    a.intersectAll(b)
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .orderBy(col("k"))
  }

  val q45Sql: String =
    """SELECT k, COUNT(*) AS n FROM (
      |  SELECT l_partkey AS k FROM lineitem WHERE l_quantity < 30
      |  INTERSECT ALL
      |  SELECT l_partkey FROM lineitem WHERE l_discount > 0.02)
      |GROUP BY k
      |ORDER BY k""".stripMargin

  /** JSON serialization: to_json over a struct (the write-side twin of
    * q21/q25's extraction). */
  def q46ToJson(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        to_json(struct(col("event_id"), col("event_type"))).as("payload"))
      .orderBy(col("event_id"))

  val q46Sql: String =
    """SELECT event_id,
      |  to_json(struct_pack(event_id := event_id, event_type := event_type)) AS payload
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** Null-handling semantics (SURVEY §2.2 P4): nullif/coalesce/null-aware
    * aggregation over synthesized nulls (the fixtures are null-free). */
  def q47NullHandling(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("flag_or_null", nullif(col("l_returnflag"), lit("N")))
      .groupBy(col("l_linestatus"))
      .agg(
        count(col("flag_or_null")).as("n_non_null"), // COUNT skips nulls
        count(lit(1)).as("n_total"),
        coalesce(min(col("flag_or_null")), lit("NONE")).as("min_flag"))
      .orderBy(col("l_linestatus"))

  val q47Sql: String =
    """SELECT l_linestatus,
      |  COUNT(NULLIF(l_returnflag, 'N')) AS n_non_null,
      |  COUNT(*) AS n_total,
      |  COALESCE(MIN(NULLIF(l_returnflag, 'N')), 'NONE') AS min_flag
      |FROM lineitem
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  /** Distribution window functions (percent_rank / cume_dist / ntile) —
    * the §2.6 analytic family beyond rank/lag. Both engines compute
    * percent_rank as (rank−1)/(n−1) and cume_dist as peers/n on exact
    * integers, so the doubles are bit-identical; the tie-broken ORDER BY
    * (unique o_orderkey) makes ranks deterministic. ntile is cast to
    * BIGINT because DuckDB's returns BIGINT while Spark's returns INT. */
  def q54WindowDistribution(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .withColumn("nt", ntile(10).over(w).cast("long"))
      .orderBy(col("o_orderkey"))
  }

  val q54Sql: String =
    """SELECT o_orderkey, o_orderpriority, o_totalprice,
      |  percent_rank() OVER w AS pr,
      |  cume_dist() OVER w AS cd,
      |  ntile(10) OVER w AS nt
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  /** Arbitrary GROUPING SETS (beyond rollup q11 / cube q12) through the
    * SQL frontend: two single-column sets plus the grand total, with
    * COALESCE sentinels so the NULL grouping placeholders sort
    * identically in both engines. */
  def q55GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_gs")
    spark.sql(
      """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
        |  COALESCE(l_linestatus, 'ALL') AS status,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY flag, status""".stripMargin)
  }

  val q55Sql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
      |  COALESCE(l_linestatus, 'ALL') AS status,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY flag, status""".stripMargin

  /** Positional explode (lateral array flattening with ordinality) — the
    * write-side of the array family: each document's first five tokens
    * become (doc_id, pos, tok) rows. DuckDB has no WITH ORDINALITY, so the
    * oracle unnests generate_series(1, len) and indexes the list. */
  def q56Posexplode(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(slice(graft.functions.TextKernels.tokens(col("text")), 1, 5))
          .as(Seq("pos", "tok")))
      .orderBy(col("doc_id"), col("pos"))

  val q56Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), t -> t <> '')[1:5] AS toks
      |  FROM documents),
      |e AS (SELECT doc_id, toks,
      |        unnest(generate_series(1, len(toks))) AS i
      |      FROM t)
      |SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i] AS tok
      |FROM e
      |ORDER BY doc_id, pos""".stripMargin

  /** MapType round-trip: build a map from arrays, read its sorted key set,
    * and explode it back to rows — MapType has no parquet-hashable direct
    * emission, so the gate checks construction + key extraction +
    * explosion through plain columns. The ORDER BY pins row order (map
    * iteration order is insertion order in Spark, but nothing relies on
    * it). */
  def q57MapRoundtrip(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"),
        map_from_arrays(
          array(lit("name"), lit("seg")),
          array(col("c_name"), col("c_mktsegment"))).as("m"))
      .select(col("c_custkey"),
        array_join(array_sort(map_keys(col("m"))), ",").as("keys_csv"),
        explode(col("m")).as(Seq("key", "value")))
      .select(col("c_custkey"), col("key"), col("value"), col("keys_csv"))
      .orderBy(col("c_custkey"), col("key"))

  val q57Sql: String =
    """SELECT c_custkey, key, value, 'name,seg' AS keys_csv FROM (
      |  SELECT c_custkey, 'name' AS key, c_name AS value FROM customer
      |  UNION ALL
      |  SELECT c_custkey, 'seg' AS key, c_mktsegment AS value FROM customer)
      |ORDER BY c_custkey, key""".stripMargin

  /** Value window functions (first/last/nth_value) over an explicit
    * unbounded ROWS frame — last_value is the classic frame-default trap
    * (the default frame ends at CURRENT ROW), so the frame is spelled out
    * identically in both engines. */
  def q58ValueWindows(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .withColumn("cheapest", first(col("o_orderkey")).over(w))
      .withColumn("priciest", last(col("o_orderkey")).over(w))
      .withColumn("second_cheapest", nth_value(col("o_orderkey"), 2).over(w))
      .orderBy(col("o_orderkey"))
  }

  val q58Sql: String =
    """SELECT o_orderkey, o_orderpriority, o_totalprice,
      |  first_value(o_orderkey) OVER w AS cheapest,
      |  last_value(o_orderkey) OVER w AS priciest,
      |  nth_value(o_orderkey, 2) OVER w AS second_cheapest
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority
      |  ORDER BY o_totalprice, o_orderkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_orderkey""".stripMargin

  /** Stream-static join through the real streaming engine: readStream over
    * events joined to the static customer dimension, then a windowed
    * aggregation per market segment. The static side is planned as a
    * broadcast per micro-batch — the standard enrich-a-stream shape (the
    * 100 TB analogue: a dimension that fits in executor memory joined to an
    * unbounded fact stream with zero shuffle on the stream side). On a
    * bounded source the result equals the batch join + aggregation, which
    * is what the oracle computes. */
  def q66StreamStaticJoin(spark: SparkSession, dir: String): DataFrame = withStreamScopedConf(spark) {
    val schema = Tables.parquetSchema(spark, s"$dir/events.parquet")
    val customers = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .transform(Tables.normalizeTs)
      .withWatermark("ts", "10 minutes")
      .join(customers, col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "30 minutes"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").cast("long").as("bucket"),
        col("c_mktsegment"), col("n"), col("sum_value"))
    val name = s"stream_static_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table(name).stage()
    spark.catalog.dropTempView(name)
    out.orderBy(col("bucket"), col("c_mktsegment"))
  }

  val q66Sql: String =
    """SELECT CAST(FLOOR(epoch(ts) / 1800) * 1800 AS BIGINT) AS bucket,
      |  c_mktsegment,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1, 2
      |ORDER BY bucket, c_mktsegment""".stripMargin

  /** Correlated EXISTS / NOT EXISTS through the SQL frontend: customers
    * with at least one big-ticket order but no failed ('F') order.
    * Catalyst decorrelates both predicates into a semi join + anti join
    * (RewritePredicateSubquery) — the point of the query is that the
    * correlated form costs the same as the hand-written q5/q6 joins, which
    * is what keeps it usable at 100 TB. */
  def q69CorrelatedExists(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("g69_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("g69_orders")
    spark.sql(
      """SELECT c_custkey, c_name, c_acctbal
        |FROM g69_customer c
        |WHERE EXISTS (SELECT 1 FROM g69_orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 250000)
        |  AND NOT EXISTS (SELECT 1 FROM g69_orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin)
  }

  val q69Sql: String =
    """SELECT c_custkey, c_name, c_acctbal
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_totalprice > 250000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  /** UNPIVOT (melt): per-priority aggregate metrics rotated from columns
    * into (metric, value) rows — q32's pivot run in reverse. Narrow
    * per-row fan-out after the aggregation, so the wide-to-long reshape
    * adds no shuffle beyond the group-by. */
  def q70Unpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).cast("double").as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .unpivot(Array(col("o_orderpriority")),
        Array(col("n_orders"), col("total_price")), "metric", "value")
      .orderBy(col("o_orderpriority"), col("metric"))

  val q70Sql: String =
    """SELECT o_orderpriority, metric, value FROM (
      |  SELECT o_orderpriority, 'n_orders' AS metric,
      |    CAST(COUNT(*) AS DOUBLE) AS value
      |  FROM orders GROUP BY o_orderpriority
      |  UNION ALL
      |  SELECT o_orderpriority, 'total_price' AS metric,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS value
      |  FROM orders GROUP BY o_orderpriority)
      |ORDER BY o_orderpriority, metric""".stripMargin

  /** The batch sliding window's streaming twin through the checkpointed
    * parquet file sink: overlapping windows (30 min, sliding 15) mean every
    * event updates TWO window states — the one streaming window type not
    * previously inside the bitwise gate (tumbling q50, session q51). Append
    * mode emits a window once the 10-minute watermark passes its end; the
    * oracle expands each event into its two buckets (q41's unnest idiom)
    * and applies the identical cutoff. */
  def q68StreamSlidingSink(spark: SparkSession, dir: String): DataFrame = withStreamScopedConf(spark) {
    val base = graft.tools.TempDirs.createFast("graft-q68")
    try {
      val schema = Tables.parquetSchema(spark, s"$dir/events.parquet")
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .transform(Tables.normalizeTs)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "30 minutes", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("window.start").cast("long").as("bucket"),
          col("event_type"), col("n"), col("sum_value"))
      val q = stream.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
      Tables.parquet(spark, s"$base/out").stage()
        .orderBy(col("bucket"), col("event_type"))
    } finally graft.tools.TempDirs.deleteRecursively(base)
  }

  val q68Sql: String =
    """SELECT * FROM (
      |  SELECT bucket, event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |  FROM (
      |    SELECT unnest([CAST(FLOOR(epoch(ts) / 900) * 900 AS BIGINT),
      |                   CAST(FLOOR(epoch(ts) / 900) * 900 - 900 AS BIGINT)]) AS bucket,
      |      event_type, value
      |    FROM events)
      |  GROUP BY bucket, event_type)
      |WHERE bucket + 1800 <= (SELECT epoch(max(ts)) - 600 FROM events)
      |ORDER BY bucket, event_type""".stripMargin

  /** CDC-style MERGE (upsert-apply): fold a change batch into a base table.
    * Changes are the LATEST event per (shifted) customer key — latest-wins
    * by (ts, event_id) — mapped to merge actions: an `error` event deletes
    * the row, any other event upserts `value` into the account balance
    * (update if the key exists, insert if new). The key shift is derived
    * from the data (max custkey − half the user range) so every branch is
    * non-vacuous at every scale factor: the lower half of the users lands
    * on existing keys (updates), the upper half past the end (inserts),
    * deletes hit both populations, the rest of the base is untouched.
    *
    * Spark has no MERGE INTO without a table format that supports it, so
    * this is the portable relational encoding: dedup-changes → full outer
    * join on the key → per-row action arbitration. At 100 TB both sides
    * hash-partition on the key (full outer can't broadcast); that one
    * shuffle is the price every CDC apply pays. The shift scalar is a
    * broadcast one-row cross join, not a collect. */
  def q67UpsertMerge(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("m_custkey").orderBy(col("ts").desc, col("event_id").desc)
    val off = Tables.customer(spark, dir).agg(max(col("c_custkey")).as("maxc"))
      .crossJoin(Tables.events(spark, dir).agg(max(col("user_id")).as("maxu")))
      .select((col("maxc") - expr("maxu div 2")).as("off"))
    val latest = Tables.events(spark, dir)
      .crossJoin(broadcast(off))
      .select((col("user_id") + col("off")).as("m_custkey"), col("ts"),
        col("event_id"), col("event_type"), col("value"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "ts", "event_id")
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .join(latest, col("c_custkey") === col("m_custkey"), "full_outer")
      .filter(col("event_type").isNull || col("event_type") =!= "error")
      .select(
        coalesce(col("c_custkey"), col("m_custkey")).as("custkey"),
        coalesce(col("c_name"),
          concat(lit("cust#"), coalesce(col("c_custkey"), col("m_custkey")))).as("name"),
        coalesce(col("value"), col("c_acctbal")).as("acctbal"),
        when(col("event_type").isNull, lit("keep"))
          .when(col("c_custkey").isNull, lit("insert"))
          .otherwise(lit("update")).as("op"))
      .orderBy(col("custkey"))
  }

  val q67Sql: String =
    """WITH off AS (
      |  SELECT (SELECT max(c_custkey) FROM customer)
      |       - ((SELECT max(user_id) FROM events) // 2) AS off
      |), latest AS (
      |  SELECT m_custkey, event_type, value FROM (
      |    SELECT user_id + (SELECT off FROM off) AS m_custkey, event_type, value,
      |      ROW_NUMBER() OVER (PARTITION BY user_id + (SELECT off FROM off)
      |        ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events)
      |  WHERE rn = 1
      |)
      |SELECT
      |  COALESCE(c_custkey, m_custkey) AS custkey,
      |  COALESCE(c_name, 'cust#' || COALESCE(c_custkey, m_custkey)) AS name,
      |  COALESCE(value, c_acctbal) AS acctbal,
      |  CASE WHEN event_type IS NULL THEN 'keep'
      |       WHEN c_custkey IS NULL THEN 'insert'
      |       ELSE 'update' END AS op
      |FROM customer FULL OUTER JOIN latest ON c_custkey = m_custkey
      |WHERE event_type IS NULL OR event_type <> 'error'
      |ORDER BY custkey""".stripMargin

  /** Truncated EWMA smoothing per user — the time-series feature every
    * monitoring/training-signal pipeline computes. α = 1/2 and an 8-term
    * horizon make every weight an exact power of two, so the double
    * arithmetic is bit-identical in any engine: each product is an exact
    * scaling, and the sum is written as the same left-associated chain in
    * Spark and the oracle. (A recursive EWMA needs a sequential scan per
    * key; the truncated form is 8 window lags — embarrassingly parallel
    * per user partition, and the dropped tail is < 2⁻⁸ of the mass.)
    * Missing history (the first rows of each user) contributes 0 via
    * coalesce — the standard zero-padded warmup. */
  def q71Ewma(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    def l(k: Int) = coalesce(lag(col("value"), k).over(w), lit(0.0))
    val ewma = (0 to 7).map(k => l(k) * lit(math.pow(0.5, k + 1)))
      .reduceLeft(_ + _)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("ewma", ewma)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"), col("ewma"))
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }

  val q71Sql: String = {
    // powers of 1/2 print as exact finite decimals ("0.5" … "0.00390625"),
    // so both engines parse the identical doubles
    val terms = (0 to 7).map { k =>
      s"COALESCE(lag(value, $k) OVER w, 0.0) * ${math.pow(0.5, k + 1)}"
    }.mkString(" + ")
    s"""SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
       |  $terms AS ewma
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |ORDER BY user_id, ts_us, event_id""".stripMargin
  }

  /** SCD2 (slowly-changing-dimension type 2) interval derivation from a
    * change log: each event opens a version effective until the next
    * change for the same user — `lead()` per key gives the closing edge,
    * the last version stays open (sentinel −1, flagged current). The
    * warehouse-standard history-table build, as one window pass:
    * hash-partition on the key, sort inside the partition, no joins. */
  def q72Scd2(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .withColumn("eff_from", unix_micros(col("ts")))
      .withColumn("eff_to",
        coalesce(unix_micros(lead(col("ts"), 1).over(w)), lit(-1L)))
      .withColumn("is_current",
        (col("eff_to") === -1L).cast("int"))
      .select(col("user_id"), col("eff_from"), col("eff_to"),
        col("is_current"), col("event_type"), col("value"), col("event_id"))
      .orderBy(col("user_id"), col("eff_from"), col("event_id"))
  }

  val q72Sql: String =
    """SELECT user_id, epoch_us(ts) AS eff_from,
      |  COALESCE(epoch_us(lead(ts, 1) OVER w), -1) AS eff_to,
      |  CAST(COALESCE(epoch_us(lead(ts, 1) OVER w), -1) = -1 AS INT) AS is_current,
      |  event_type, value, event_id
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, eff_from, event_id""".stripMargin

  /** Equi-width histogram (feature binning) of the value column: 16
    * buckets spanning [min, max], the profiling/binning primitive. The
    * bucket edges derive from one broadcast scalar row (min/max), so the
    * heavy side stays a narrow scan + hash-agg on a 16-value key — the
    * same two-pass shape at any scale. Both engines compute
    * floor((v−min)/step) on identical doubles → identical buckets. */
  def q73Histogram(spark: SparkSession, dir: String): DataFrame = {
    val mm = Tables.events(spark, dir)
      .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    Tables.events(spark, dir)
      .crossJoin(broadcast(mm))
      // Degenerate guard: a constant column makes the step 0 and the
      // division ANSI-throws (or NaN-disagrees with DuckDB) — land all
      // rows in bucket 0 instead. CaseWhen short-circuits, so the
      // division is never evaluated when vmax == vmin.
      .withColumn("bucket",
        when(col("vmax") === col("vmin"), lit(0L))
          .otherwise(least(floor((col("value") - col("vmin")) /
            ((col("vmax") - col("vmin")) / lit(16.0))), lit(15L))))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("lo"), max(col("value")).as("hi"))
      .orderBy(col("bucket"))
  }

  val q73Sql: String =
    """SELECT
      |  CASE WHEN (SELECT max(value) FROM events) = (SELECT min(value) FROM events)
      |       THEN 0
      |       ELSE LEAST(CAST(floor((value - (SELECT min(value) FROM events))
      |         / (((SELECT max(value) FROM events) - (SELECT min(value) FROM events)) / 16.0))
      |         AS BIGINT), 15) END AS bucket,
      |  COUNT(*) AS n, MIN(value) AS lo, MAX(value) AS hi
      |FROM events
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  /** Correlated LATERAL subquery — per-customer top-2 orders by price,
    * written the way an analyst writes it (the decorrelated plan is the
    * same WindowGroupLimit shape as a rank filter, so the SQL-frontend
    * feature costs nothing over the DataFrame form). Inner-join
    * semantics: order-less customers drop, identically in both engines. */
  def q82Lateral(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    spark.sql(q82Sql)
  }

  val q82Sql: String =
    """SELECT c_custkey, o_orderkey, o_totalprice
      |FROM customer,
      |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
      |         WHERE o_custkey = c_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  /** Recursive CTE calendar gap-fill — the time-series densification every
    * reporting layer needs (missing days must surface as ZERO, not
    * absence). The calendar spine is generated by a recursive CTE whose
    * bounds ride along as CTE columns (no subquery inside the recursion),
    * then the sparse daily counts LEFT JOIN onto it. The same SQL text
    * runs in Spark 4's recursive-CTE frontend and DuckDB. The spine is
    * O(days) — driver-light, executor-cheap — while the counts side
    * stays a normal scan+agg at any event volume. */
  def q83Recursive(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir).createOrReplaceTempView("events")
    spark.sql(q83Sql)
  }

  val q83Sql: String =
    """WITH RECURSIVE cal AS (
      |  SELECT CAST(MIN(ts) AS DATE) AS day, CAST(MAX(ts) AS DATE) AS last_day
      |  FROM events
      |  UNION ALL
      |  SELECT CAST(day + INTERVAL 1 DAY AS DATE), last_day FROM cal
      |  WHERE day < last_day
      |)
      |SELECT cal.day, COALESCE(e.n, 0) AS n_purchases
      |FROM cal
      |LEFT JOIN (SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      |           FROM events
      |           WHERE event_type = 'purchase' AND value > 200.0
      |           GROUP BY 1) e
      |ON cal.day = e.day
      |ORDER BY cal.day""".stripMargin

  /** Streaming CDC APPLY LOOP — the production shape for maintaining a
    * keyed state table from a change stream when the sink has no native
    * streaming writer: each micro-batch reduces to one delta row per key
    * (count + latest event via a single struct-max aggregate), then
    * full-outer merges into the persistent state table (read immutable
    * v(N-1) → merge → write vN — versioned, so foreachBatch's
    * at-least-once replay is idempotent). The bounded input is re-laid
    * into 4 files and streamed
    * with maxFilesPerTrigger=1, so the state provably accumulates across
    * FOUR epochs — the final table equals the batch latest-per-key
    * aggregate, which the oracle computes. Per epoch the work is one
    * narrow per-key shuffle of the delta plus a keyed merge against
    * state — the CDC cost model at any scale (state size, not history
    * size, prices each apply).
    *
    * The apply body is [[CdcUpsert.applyBatch]] under the [[CdcUpsert.Rewrite]]
    * policy — the read-optimized pole of the one shared CDC surface (see
    * that object's doc for the replay/GC contract all three layouts
    * honor). */
  def q87StreamUpsert(spark: SparkSession, dir: String,
                      chunks: Int = 4): DataFrame = withStreamScopedConf(spark) {
    // Ingested state is a deterministic function of (corpus, policy) —
    // built once per JVM (VERDICT r18 #2, the q99/q95/q96 recipe; q95/q96
    // were converted in the first r19 session, this read-optimized pole
    // follows identically); iterations measure the versioned-table READ
    // the Rewrite layout is about (newest version as-is, zero merge).
    val base = graft.tools.StateCache.getOrBuild("q87_stream_upsert",
      s"$dir@${graft.tools.ArtifactCache.pathToken(dir)}|$chunks") { root =>
      val statePath = s"$root/state"
      Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
        .repartition(chunks).write.mode("overwrite").parquet(s"$root/in")
      val schema = Tables.parquetSchema(spark, s"$root/in")
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          CdcUpsert.applyBatch(batch, batchId, statePath, CdcUpsert.Rewrite)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    CdcUpsert.stateAsOf(spark, s"$base/state", Long.MaxValue, CdcUpsert.Rewrite)
      .getOrElse(sys.error(s"q87: no state under $base/state"))
      .select(col("user_id"), col("n_events"),
        unix_micros(col("last.ts")).as("last_us"),
        col("last.event_type").as("last_type"),
        col("last.value").as("last_value"))
      .stage()
      .orderBy(col("user_id"))
  }

  /** STATE TIME TRAVEL through the HASH GATE: every stream gate so far
    * checks only the FINAL folded state; this one pins the as-of read
    * path itself — the lakehouse "query the table as of version k"
    * feature the LogState layout gives for free. Four deterministic
    * event_id-range batches ingest under the MOR protocol with
    * compaction OFF (every delta retained, so any as-of point stays
    * readable); the gate reads state AS OF epoch 1 and the oracle
    * recomputes latest-per-key over exactly the first two id ranges —
    * the same width arithmetic in SQL. A fold that reads one delta too
    * many/few, or a GC that eats a readable version, breaks the hash. */
  def q103TimeTravel(spark: SparkSession, dir: String,
                     epochs: Int = Q103Epochs,
                     asOf: Long = Q103AsOf): DataFrame = {
    val noCompact = CdcUpsert.Mor(0)
    // Ingested log is a deterministic function of (corpus, epoch split);
    // with compaction OFF every delta is retained, so any as-of point
    // reads identically post-hoc — built once per JVM (the q99 recipe);
    // iterations measure the AS-OF FOLD the time-travel feature is
    // about: range-pruned pathsAsOf + latest-wins merge.
    val base = graft.tools.StateCache.getOrBuild("q103_time_travel",
      s"$dir@${graft.tools.ArtifactCache.pathToken(dir)}|$epochs") { root =>
      val statePath = s"$root/state"
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .stage()
      val mm = ev.agg(min(col("event_id")), max(col("event_id"))).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val width = (hi - lo) / epochs + 1
      (0 until epochs).foreach { k =>
        CdcUpsert.applyBatch(
          ev.filter(expr(s"(event_id - $lo) div $width") === k),
          k, statePath, noCompact)
      }
    }
    CdcUpsert.stateAsOf(spark, s"$base/state", asOf, noCompact)
      .getOrElse(sys.error(s"q103: no state as of $asOf"))
      .select(col("user_id"), col("n_events"),
        unix_micros(col("last.ts")).as("last_us"),
        col("last.event_type").as("last_type"),
        col("last.value").as("last_value"))
      .stage()
      .orderBy(col("user_id"))
  }

  /** One definition for both sides of the q103 gate: the Scala defaults
    * and the oracle's width divisor / as-of cutoff derive from these, so
    * a non-default call can't silently desynchronize query from oracle
    * (ADVICE r15). */
  val Q103Epochs: Int = 4
  val Q103AsOf: Long = 1L

  val q103Sql: String =
    s"""WITH b AS (SELECT MIN(event_id) AS lo, MAX(event_id) AS hi
      |           FROM events),
      |e AS (
      |  SELECT ev.* FROM events ev, b
      |  WHERE (ev.event_id - b.lo) // ((b.hi - b.lo) // $Q103Epochs + 1) < ${Q103AsOf + 1})
      |SELECT user_id, n_events, epoch_us(ts) AS last_us,
      |  event_type AS last_type, value AS last_value
      |FROM (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n_events
      |  FROM e)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  val q87Sql: String =
    """SELECT user_id, n_events, epoch_us(ts) AS last_us,
      |  event_type AS last_type, value AS last_value
      |FROM (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n_events
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** Streaming CDC upsert, MERGE-ON-READ form — the log-structured answer
    * to q87's documented trade (each q87 epoch rewrites the FULL state
    * table, ~32× cumulative write amplification measured at 64 epochs).
    * Same change stream, same final table, same oracle; only the state
    * maintenance protocol differs:
    *
    *   - epoch N appends one immutable delta file (one row per key in the
    *     batch) — write cost ∝ batch, FLAT in state size;
    *   - every `compactEvery` epochs, base + deltas fold into a new base
    *     (the q80 compaction pattern applied to CDC state) — amortized
    *     cost state/compactEvery per epoch;
    *   - readers merge base + ≤ compactEvery delta files through the same
    *     monoid the deltas were built with.
    *
    * This is the LSM/copy-on-write-log trade (O'Neil et al., Acta
    * Informatica 1996) as used by every lakehouse table format:
    * write-optimized ingest, read pays a bounded merge fan-in. q87 is the
    * read-optimized pole (always exactly one file per key); this is the
    * write-optimized pole; `compactEvery` is the dial between them. At
    * 100 TB the delta/base layout additionally partitions by key range so
    * compaction touches only partitions with pending deltas.
    *
    * Apply body: [[CdcUpsert.applyBatch]] under [[CdcUpsert.Mor]] — the
    * shared CDC surface; MorUpsertSpec drives the same body directly for
    * the replay/compaction/GC proofs. */
  def q95MorUpsert(spark: SparkSession, dir: String, chunks: Int = 8,
                   compactEvery: Int = 4): DataFrame = withStreamScopedConf(spark) {
    // Ingested state is a deterministic function of (corpus, policy) —
    // built once per JVM (VERDICT r18 #2, the q99 recipe); iterations
    // measure the merged base+delta READ the MOR layout is about.
    val base = graft.tools.StateCache.getOrBuild("q95_mor_upsert",
      s"$dir@${graft.tools.ArtifactCache.pathToken(dir)}|$chunks|$compactEvery") { root =>
      val statePath = s"$root/state"
      Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
        .repartition(chunks).write.mode("overwrite").parquet(s"$root/in")
      val schema = Tables.parquetSchema(spark, s"$root/in")
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          CdcUpsert.applyBatch(batch, batchId, statePath,
            CdcUpsert.Mor(compactEvery))
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    CdcUpsert.stateAsOf(spark, s"$base/state", Long.MaxValue,
        CdcUpsert.Mor(compactEvery))
      .getOrElse(sys.error(s"q95: no state under $base/state"))
      .select(col("user_id"), col("n_events"),
        unix_micros(col("last.ts")).as("last_us"),
        col("last.event_type").as("last_type"),
        col("last.value").as("last_value"))
      .stage()
      .orderBy(col("user_id"))
  }

  // ---------------------------------------------------------------------
  // q96: the MOR CDC upsert on a KEY-RANGE-PARTITIONED state table — the
  // scale remedy both 100× streaming probes pointed at (q87's full-state
  // rewrite and q95's global compaction both price in STATE size; under
  // key-local traffic only a few partitions' state should ever move).
  // ---------------------------------------------------------------------

  /** Streaming CDC upsert over a KEY-RANGE-PARTITIONED merge-on-read
    * state table — same change stream, same final table, same oracle as
    * q87/q95; the third point on the state-maintenance spectrum:
    *
    *   - q87: read-optimized — every epoch rewrites the FULL state
    *     (read cost minimal, write cost ∝ state);
    *   - q95: write-optimized — epochs append O(batch) deltas, but the
    *     amortized compaction still folds the FULL base;
    *   - q96: partitioned — epochs append O(batch) deltas routed by
    *     frozen key-range boundaries, and compaction folds only
    *     partitions whose own delta fan-in filled up, so BOTH steady and
    *     amortized cost price in touched partitions, not state size.
    *
    * The gate's uniform fixture traffic touches every range (documented
    * honest accounting, same as q95's) — the sparse-traffic bound is
    * pinned by PartitionedStateSpec: a one-key batch writes one delta in
    * one partition and every other partition's file tree is bitwise
    * untouched. LSM trade per O'Neil et al. (Acta Informatica 1996);
    * partition-local compaction as in log-structured stores and lakehouse
    * table formats.
    *
    * Apply body: [[CdcUpsert.applyBatch]] under [[CdcUpsert.Partitioned]] —
    * boundary freezing, delta routing, fan-in compaction, and the
    * touched/total/compacted routing counters all live on the shared
    * surface; PartitionedStateSpec drives the same body directly. */
  def q96PartitionedUpsert(spark: SparkSession, dir: String,
                           chunks: Int = 8, numPartitions: Int = 8,
                           maxDeltas: Int = 3): DataFrame =
    withStreamScopedConf(spark) {
      val base = graft.tools.StateCache.getOrBuild("q96_partitioned_upsert",
        s"$dir@${graft.tools.ArtifactCache.pathToken(dir)}|$chunks|$numPartitions|$maxDeltas") { root =>
        val statePath = s"$root/state"
        Tables.events(spark, dir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .repartition(chunks).write.mode("overwrite").parquet(s"$root/in")
        val schema = Tables.parquetSchema(spark, s"$root/in")
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$root/ckpt")
          .foreachBatch { (b: DataFrame, id: Long) =>
            CdcUpsert.applyBatch(b, id, statePath,
              CdcUpsert.Partitioned(numPartitions, maxDeltas))
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      CdcUpsert.stateAsOf(spark, s"$base/state", Long.MaxValue,
          CdcUpsert.Partitioned(numPartitions, maxDeltas))
        .getOrElse(sys.error(s"q96: no state under $base/state"))
        .select(col("user_id"), col("n_events"),
          unix_micros(col("last.ts")).as("last_us"),
          col("last.event_type").as("last_type"),
          col("last.value").as("last_value"))
        .stage()
        .orderBy(col("user_id"))
    }

  /** LAYOUT-MECHANISM gate for the FULL CDC spectrum (q87/q95/q96): the
    * final-table oracle (q87Sql) proves the RESULT but not the state
    * protocol — a broken write path that rewrote full state every epoch
    * would still produce the same final table. This query drives
    * [[CdcUpsert.applyBatch]] under all three policies over the same
    * deterministic batches, reads the state files THEMSELVES, and
    * exports, per epoch and per protocol:
    *
    *   - `delta_rows` ([[CdcUpsert.rowsWrittenAt]]): rows the epoch's
    *     state write produced. For the log layouts this is the O(batch)
    *     contract — must equal the batch's distinct-key count; if any
    *     apply ever read-modified-wrote, it becomes the CUMULATIVE count
    *     and the hash breaks. For Rewrite it IS the cumulative count —
    *     the write-amplification contrast between the poles, oracled in
    *     the same table rather than only narrated in Scaladoc.
    *   - `state_rows`: keys in the as-of-epoch merged read
    *     ([[CdcUpsert.stateAsOf]]) — pins the read-time fold at every
    *     prefix of the log, not just the final batch (a GC bug that
    *     dropped a live delta, or a fold that double-counted across a
    *     compaction boundary, breaks some prefix first).
    *
    * Batches are DETERMINISTIC (epoch k = events with pmod(event_id,
    * epochs) = k — pmod, not Java `%`, so the split is TOTAL even if an
    * id were negative (ADVICE r10) — applied in order) so the DuckDB
    * oracle can reproduce them with the same non-negative modulus — the streaming gates keep the real engine path;
    * this gate drives the shared apply body directly, exactly like the
    * replay specs do. Compaction/GC run live underneath (q95 every
    * `compactEvery` epochs, q96 per-partition fan-in, q87 version GC),
    * so the exported numbers cross those boundaries rather than dodging
    * them. */
  /** Gate shape: 4 epochs × 3 protocols (r9 ran 8 × 2 at 13.8 s — 11%
    * of the whole bench board; half the epochs keeps every boundary the
    * gate exists to cross — two q95 compactions at k=1,3 under
    * compactEvery=2, one q96 fan-in at the maxDeltas=3 crossing — at
    * half the price; the Rewrite arm is cheap, its state is one fold per
    * epoch). `epochs` is COUPLED to q97Sql's modulus and range (both 4):
    * change them together. */
  def q97StateLayout(spark: SparkSession, dir: String, epochs: Int = 4,
                     compactEvery: Int = 2, numPartitions: Int = 8,
                     maxDeltas: Int = 3): DataFrame = {
    val base = graft.tools.TempDirs.createFast("graft-q97")
    try {
      val arms: Seq[(CdcUpsert.Policy, String)] = Seq(
        (CdcUpsert.Rewrite, s"$base/q87"),
        (CdcUpsert.Mor(compactEvery), s"$base/q95"),
        (CdcUpsert.Partitioned(numPartitions, maxDeltas), s"$base/q96"))
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .stage() // 3×epochs scans below — pin the normalized input
      // This gate CANNOT session-cache its ingest (the q99 recipe the
      // other CDC gates use): its per-epoch observations only exist at
      // apply time — Rewrite GCs v(k−2) as it writes vK, and the log
      // layouts' compaction GC sweeps folded deltas, so a post-hoc
      // stateAsOf(k) for early k is unreadable by design (the GC floor).
      // Epochs stay sequential (each arm's epoch k reads its own k−1
      // state), but the three ARMS are fully independent — separate
      // state dirs, same input batch — so each epoch runs them as
      // concurrent driver-submitted jobs (optimization guide §2.6:
      // Spark's FIFO scheduler backfills the tail of one arm's job with
      // the next arm's tasks; per-epoch wall becomes ~max(arm) instead
      // of Σ(arm)). Results are joined in arm order — output identical.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(arms.size)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val stats =
        try {
          (0 until epochs).flatMap { k =>
            val batch = ev.filter(pmod(col("event_id"), lit(epochs)) === k)
            arms.map { case (policy, path) =>
              scala.concurrent.Future {
                CdcUpsert.applyBatch(batch, k, path, policy)
                // Both observations in ONE action (a tagged union of the
                // two counts): `delta_rows` + `state_rows` were two
                // back-to-back count jobs per (arm, epoch) — 24 jobs per
                // run, each paying the scheduler dispatch floor. The
                // counted frames are exactly the ones rowsWrittenAt /
                // stateAsOf count, so the oracle rows are unchanged.
                def tagged(df: Option[DataFrame], tag: Int): DataFrame =
                  df.map(_.agg(count(lit(1)).as("n"))
                      .select(lit(tag).as("t"), col("n")))
                    .getOrElse(spark.range(1)
                      .select(lit(tag).as("t"), lit(0L).as("n")))
                val obs = tagged(
                    CdcUpsert.writtenFrameAt(spark, path, k, policy), 0)
                  .unionByName(tagged(
                    CdcUpsert.stateAsOf(spark, path, k, policy), 1))
                  .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
                (policy.name, k.toLong, obs(0), obs(1))
              }
            }.map(scala.concurrent.Await.result(_,
              scala.concurrent.duration.Duration.Inf))
          }
        } finally pool.shutdown()
      import spark.implicits._
      stats.toDF("protocol", "epoch", "delta_rows", "state_rows")
        .orderBy(col("protocol"), col("epoch"))
    } finally graft.tools.TempDirs.deleteRecursively(base)
  }

  /** Modulus and epoch range are COUPLED to q97StateLayout's epochs=4
    * default. Epochs enumerate from range(0,4), NOT from DISTINCT over
    * the data (ADVICE r9): the Scala side emits (delta_rows=0,
    * state_rows=cumulative) for EVERY epoch, so an empty residue class
    * after a fixture regeneration must still produce its oracle row.
    * The q87_rewrite arm's delta_rows is the CUMULATIVE key count (the
    * rewrite pole rewrites full state each epoch — that asymmetry is the
    * point of gating it). */
  val q97Sql: String =
    """WITH b AS (SELECT ((event_id % 4) + 4) % 4 AS epoch, user_id
      |           FROM events),
      |     e AS (SELECT range AS epoch FROM range(0, 4)),
      |     p AS (SELECT 'q95_mor' AS protocol, FALSE AS cumulative_writes
      |           UNION ALL SELECT 'q96_partitioned', FALSE
      |           UNION ALL SELECT 'q87_rewrite', TRUE)
      |SELECT p.protocol, e.epoch,
      |  CASE WHEN p.cumulative_writes
      |    THEN (SELECT COUNT(DISTINCT user_id) FROM b
      |           WHERE b.epoch <= e.epoch)
      |    ELSE (SELECT COUNT(DISTINCT user_id) FROM b
      |           WHERE b.epoch = e.epoch)
      |  END AS delta_rows,
      |  (SELECT COUNT(DISTINCT user_id) FROM b
      |    WHERE b.epoch <= e.epoch) AS state_rows
      |FROM e CROSS JOIN p
      |ORDER BY protocol, epoch""".stripMargin

  /** POINT-LOOKUP PRUNING gate for the partitioned CDC state (VERDICT r9
    * item 6): "a keyed read scans ONE partition's log, never the table"
    * was previously proved only by PartitionedStateSpec — this query
    * drives it through the driver's hash gate. It builds a
    * [[CdcUpsert.Partitioned]] state from deterministic batches, then
    * reads three deterministic probe keys back via
    * [[CdcUpsert.keyLookup]] and emits each key's state row PLUS
    * `parts_read` — the number of `p=K` partition logs whose files the
    * lookup actually listed, parsed from the resolved read paths. The
    * oracle pins `parts_read` at the literal 1: if the pruned read ever
    * regressed to scanning the table (e.g. `pathsForBuckets` →
    * `pathsAsOf`), the Scala side reports >1 and the hash breaks — at
    * ANY state size the lookup cost is one partition's base + pending
    * deltas.
    *
    * Probe keys are oracle-computable exactly: min(user_id),
    * max(user_id) (the two extreme range buckets), and the first key
    * above the id-range midpoint (an interior bucket). The state-row
    * values (count + latest event) re-pin the merged read on a second
    * independent path. Routing counters export the same pruning evidence
    * to the bench artifact (`q98_lookup_parts` sums parts over the three
    * lookups — 3 when pruning holds; `q98_total_parts` sums the table
    * width per lookup). */
  def q98PointLookup(spark: SparkSession, dir: String, epochs: Int = 2,
                     numPartitions: Int = 8,
                     maxDeltas: Int = 2): DataFrame = {
    val policy = CdcUpsert.Partitioned(numPartitions, maxDeltas)
    // Ingested state is a deterministic function of (corpus, policy,
    // epoch split) — built once per JVM (the q99 recipe); iterations
    // measure the probe-key derivation plus the three PRUNED keyed
    // lookups the gate is about (one partition's base + deltas each).
    val base = graft.tools.StateCache.getOrBuild("q98_point_lookup",
      s"$dir@${graft.tools.ArtifactCache.pathToken(dir)}|$epochs|$numPartitions|$maxDeltas") { root =>
      val statePath = s"$root/state"
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .stage() // `epochs` scans below — pin the normalized input
      (0 until epochs).foreach { k =>
        CdcUpsert.applyBatch(
          ev.filter(pmod(col("event_id"), lit(epochs)) === k),
          k, statePath, policy)
      }
    }
    val statePath = s"$base/state"
    val ids = Tables.events(spark, dir).select(col("user_id"))
    val mm = ids.agg(min(col("user_id")), max(col("user_id"))).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    // floor division on non-negative ids — matches the oracle's `//`
    val midRow = ids.filter(col("user_id") > lit((lo + hi) / 2))
      .agg(min(col("user_id"))).head()
    val midOpt = if (midRow.isNullAt(0)) None else Some(midRow.getLong(0))
    val keys = (Seq(lo, hi) ++ midOpt).distinct.sorted
    val perKey = keys.map { key =>
      val (dfOpt, parts) = CdcUpsert.keyLookup(spark, statePath, key,
        policy)
      graft.tools.RoutingMetrics.add("q98_lookup_parts", parts)
      graft.tools.RoutingMetrics.add("q98_total_parts",
        graft.tools.RangeState.partDirs(statePath).size.toLong)
      dfOpt.getOrElse(sys.error(s"q98: no state for key $key"))
        .withColumn("parts_read", lit(parts))
    }
    perKey.reduce(_.unionByName(_))
      .select(col("user_id"), col("n_events"),
        unix_micros(col("last.ts")).as("last_us"),
        col("last.event_type").as("last_type"),
        col("last.value").as("last_value"),
        col("parts_read"))
      .stage()
      .orderBy(col("user_id"))
  }

  /** The literal `1 AS parts_read` is the gate: the Scala side reports
    * the partition count it ACTUALLY listed. Key set = {min, max, first
    * above midpoint}, deduped (UNION) exactly as the Scala side dedups. */
  val q98Sql: String =
    """WITH mm AS (SELECT MIN(user_id) AS lo, MAX(user_id) AS hi
      |            FROM events),
      |     k AS (SELECT lo AS user_id FROM mm
      |           UNION SELECT hi FROM mm
      |           UNION SELECT MIN(user_id) FROM events
      |             WHERE user_id > (SELECT (lo + hi) // 2 FROM mm)),
      |     agg AS (
      |       SELECT user_id, n_events, epoch_us(ts) AS last_us,
      |         event_type AS last_type, value AS last_value
      |       FROM (
      |         SELECT user_id, ts, event_id, event_type, value,
      |           ROW_NUMBER() OVER (PARTITION BY user_id
      |             ORDER BY ts DESC, event_id DESC) AS rn,
      |           COUNT(*) OVER (PARTITION BY user_id) AS n_events
      |         FROM events)
      |       WHERE rn = 1)
      |SELECT a.user_id, a.n_events, a.last_us, a.last_type, a.last_value,
      |  CAST(1 AS BIGINT) AS parts_read
      |FROM agg a JOIN k ON a.user_id = k.user_id
      |ORDER BY a.user_id""".stripMargin

  /** SECONDARY-INDEX gate — the "next layout" the CDC unification was
    * built for ([[CdcUpsert.Indexed]]): the Partitioned primary plus a
    * value-partitioned posting-list index over each key's LATEST
    * event_type, maintained incrementally per batch with tombstones.
    * After the apply loop, the query answers "which keys currently have
    * latest type v" for the two lexicographically-smallest types FROM THE
    * INDEX ALONE — no primary read, one index partition listed per value
    * (`parts_read`, pinned at literal 1 by the oracle exactly like q98).
    * The oracle recomputes the posting lists from raw events
    * (latest-per-key by (ts, event_id) DESC — the fold's struct-max
    * order), so a maintenance bug is hash-visible: a missed tombstone
    * leaves a key in BOTH types' lists (extra row), a dropped add loses a
    * row, a mis-superseded epoch resurrects an old membership. Routing
    * counters export the same pruning evidence to the bench artifact. */
  def q99SecondaryIndex(spark: SparkSession, dir: String, epochs: Int = 4,
                        numPartitions: Int = 8, maxDeltas: Int = 2,
                        indexBuckets: Int = 4): DataFrame = {
    // The ingested state is a deterministic function of (corpus, policy,
    // epoch split) — every apply is an epoch-keyed overwrite — so it is
    // built ONCE per JVM per parameter set and kept for the session
    // (VERDICT r17 #2: rebuilding the 4-epoch ingest per bench iteration
    // made q99 the single biggest bench line at 11.8 s; iterations now
    // measure the INDEX LOOKUP the gate is about, while the build cost
    // stays visible as the q99_state.build phase). The maintenance
    // depth itself (tombstones across 4 epochs, fan-in compaction) is
    // unchanged — the gate's oracle still checks the full ingest.
    // pathToken folded in so a corpus rebuilt in place under the same
    // path (ScaleProbe multiplier sweeps) re-ingests instead of serving
    // state built from the old contents (ADVICE r18).
    val key = (s"$dir@${graft.tools.ArtifactCache.pathToken(dir)}",
      epochs, numPartitions, maxDeltas, indexBuckets)
    val policy = CdcUpsert.Indexed(
      CdcUpsert.Partitioned(numPartitions, maxDeltas), indexBuckets)
    val (statePath, targetVals) = q99States.synchronized {
      q99States.getOrElseUpdate(key, {
        val t0 = System.nanoTime()
        val base = graft.tools.TempDirs.createFastForJvm("graft-q99")
        val statePath = s"$base/state"
        val ev = Tables.events(spark, dir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .stage() // epochs+1 scans below — pin the normalized input
        (0 until epochs).foreach { k =>
          CdcUpsert.applyBatch(
            ev.filter(pmod(col("event_id"), lit(epochs)) === k),
            k, statePath, policy)
        }
        // Bounded IN THE PLAN (orderBy+limit → TakeOrdered), not by data
        // luck — keeps the "every driver collect is k-limited" invariant.
        val targetVals = ev.select(col("event_type")).distinct()
          .orderBy(col("event_type")).limit(2)
          .collect().map(_.getString(0)).toSeq
        graft.tools.PhaseTiming.record("q99_state.build",
          (System.nanoTime() - t0) / 1e9)
        (statePath, targetVals)
      })
    }
    val perVal = targetVals.map { v =>
      val (dfOpt, parts) = CdcUpsert.indexLookup(spark, statePath, v,
        policy)
      graft.tools.RoutingMetrics.add("q99_lookup_parts", parts)
      graft.tools.RoutingMetrics.add("q99_total_parts",
        graft.tools.RangeState.partDirs(s"$statePath/index").size.toLong)
      dfOpt.getOrElse(sys.error(s"q99: no index state for value $v"))
        .withColumn("event_type", lit(v))
        .withColumn("parts_read", lit(parts))
    }
    perVal.reduce(_.unionByName(_))
      .select(col("event_type"), col("user_id"), col("parts_read"))
      .stage()
      .orderBy(col("event_type"), col("user_id"))
  }

  /** Session-lifetime q99 state dirs, keyed by (dir@contentToken,
    * epochs, numPartitions, maxDeltas, indexBuckets); values are
    * (statePath, the two target event types). */
  private val q99States = scala.collection.mutable.Map[
    (String, Int, Int, Int, Int), (String, Seq[String])]()

  /** Latest-per-key mirrors the fold's struct-max order (ts DESC,
    * event_id DESC — q98's convention); the two target types come from
    * DISTINCT ORDER BY LIMIT 2 exactly as the Scala side sorts and
    * takes 2. `parts_read` pinned at the literal 1 = the pruning gate. */
  val q99Sql: String =
    """WITH latest AS (
      |  SELECT user_id, event_type FROM (
      |    SELECT user_id, event_type,
      |      ROW_NUMBER() OVER (PARTITION BY user_id
      |        ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events) WHERE rn = 1),
      |  tv AS (SELECT DISTINCT event_type FROM events
      |         ORDER BY event_type LIMIT 2)
      |SELECT l.event_type, l.user_id, CAST(1 AS BIGINT) AS parts_read
      |FROM latest l JOIN tv ON l.event_type = tv.event_type
      |ORDER BY l.event_type, l.user_id""".stripMargin

  /** LATE-EVENT QUARANTINE gate ([[CdcUpsert.applyBatchWithLateness]]):
    * the CDC apply loop under DISORDERED event time. Epoch batches are
    * the standard pmod(event_id) split — uncorrelated with ts, so later
    * epochs genuinely carry rows below the watermark the earlier epochs
    * established (the fixture's 30-day span with 27-day lateness
    * quarantines a deterministic ~2-day tail). The gate emits, per user
    * that had ANY quarantined row: the quarantine count AND the user's
    * final state (count + latest) built from ON-TIME rows only — so a
    * late row that leaked into the state breaks n_events, and one that
    * silently vanished breaks n_quarantined. The oracle replays the
    * watermark recurrence (running max of per-epoch max ts, minus
    * lateness; a row is late iff below the PRIOR epoch's watermark)
    * directly from the raw events. */
  def q100LateQuarantine(spark: SparkSession, dir: String, epochs: Int = 4,
                         latenessMicros: Long = 27L * 86400 * 1000000): DataFrame = {
    val policy = CdcUpsert.Mor(2)
    // Ingested state + quarantine are deterministic functions of
    // (corpus, policy, lateness, epoch split) — built once per JVM (the
    // q99 recipe); iterations measure the quarantine scan + folded
    // state read + join projection, i.e. the read path a lateness
    // monitor pays per question.
    val base = graft.tools.StateCache.getOrBuild("q100_late_quarantine",
      s"$dir@${graft.tools.ArtifactCache.pathToken(dir)}|$epochs|$latenessMicros") { root =>
      val statePath = s"$root/state"
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .stage()
      (0 until epochs).foreach { k =>
        CdcUpsert.applyBatchWithLateness(
          ev.filter(pmod(col("event_id"), lit(epochs)) === k),
          k, statePath, policy, latenessMicros)
      }
    }
    val statePath = s"$base/state"
    val quar = CdcUpsert.quarantineAsOf(spark, statePath, epochs - 1)
      .getOrElse(sys.error("q100: expected a non-empty quarantine"))
    val q = quar.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_quarantined"))
    val st = CdcUpsert.stateAsOf(spark, statePath, epochs - 1, policy)
      .getOrElse(sys.error("q100: no state"))
    q.join(st, Seq("user_id"), "left_outer")
      .select(col("user_id"), col("n_quarantined"), col("n_events"),
        unix_micros(col("last.ts")).as("last_us"),
        col("last.event_type").as("last_type"),
        col("last.value").as("last_value"))
      .stage()
      .orderBy(col("user_id"))
  }

  /** Watermark recurrence in SQL: wm(k) = running-max(per-epoch max ts)
    * − lateness; late iff ts < wm(epoch−1) (epoch 0 has none). State =
    * on-time rows only, latest by (ts, event_id) DESC — the fold's
    * struct-max order. The watermark CTE is DENSE over range(0, epochs)
    * (ADVICE r11): an epoch with no rows contributes a NULL max that the
    * running MAX ignores, so the prior watermark carries forward across
    * empty epochs exactly as the Scala side's walk-back read does —
    * unreachable with this fixture's pmod split, but the two recurrences
    * now agree for any batch partitioning. */
  val q100Sql: String =
    """WITH e AS (
      |  SELECT ((event_id % 4) + 4) % 4 AS epoch, event_id, user_id,
      |    epoch_us(ts) AS ts_us, event_type, value
      |  FROM events),
      |m AS (SELECT epoch, MAX(ts_us) AS mx FROM e GROUP BY epoch),
      |w AS (SELECT g.epoch,
      |        MAX(m.mx) OVER (ORDER BY g.epoch
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          - 2332800000000 AS wm
      |      FROM range(0, 4) g(epoch) LEFT JOIN m ON m.epoch = g.epoch),
      |lt AS (
      |  SELECT e.*, CASE WHEN p.wm IS NOT NULL AND e.ts_us < p.wm
      |              THEN 1 ELSE 0 END AS late
      |  FROM e LEFT JOIN w p ON p.epoch = e.epoch - 1),
      |q AS (SELECT user_id, COUNT(*) AS n_quarantined
      |      FROM lt WHERE late = 1 GROUP BY user_id),
      |s AS (SELECT user_id, n_events, ts_us AS last_us,
      |        event_type AS last_type, value AS last_value
      |      FROM (
      |        SELECT user_id, ts_us, event_id, event_type, value,
      |          ROW_NUMBER() OVER (PARTITION BY user_id
      |            ORDER BY ts_us DESC, event_id DESC) AS rn,
      |          COUNT(*) OVER (PARTITION BY user_id) AS n_events
      |        FROM lt WHERE late = 0)
      |      WHERE rn = 1)
      |SELECT q.user_id, q.n_quarantined, s.n_events, s.last_us,
      |  s.last_type, s.last_value
      |FROM q LEFT JOIN s USING (user_id)
      |ORDER BY q.user_id""".stripMargin

  /** SPARSE-TRAFFIC TOUCHED-PARTITION gate for the partitioned CDC state
    * (q96's pruning claim, oracle-visible): the q97 layout gate runs
    * UNIFORM batches, where touched == total partitions by construction
    * (the honest pole); the 100× probes show key-local traffic touching
    * few partitions, but only as probe numbers. This gate makes the
    * pruning itself hash-checked: boundaries are pre-frozen UNIFORM
    * (`RangeState.freezeUniform` — integer arithmetic the oracle
    * reproduces exactly, where the quantile-derived default could not
    * be), batches are contiguous key-range slices (batch k = users with
    * (user_id − lo) div width = k), and per epoch the gate emits the
    * partitions that ACTUALLY hold a delta file (observed from the
    * state tree, compaction disabled so nothing is folded away) beside
    * the cumulative partition count, delta rows, and state rows. The
    * oracle recomputes every column from raw events via the same bucket
    * arithmetic — if routing ever sprayed a key-local batch across the
    * table (e.g. a hash-bucketing regression), touched_parts breaks
    * bitwise. `epochs`/`numPartitions` are COUPLED to q101Sql's 4/8. */
  def q101SparseTouch(spark: SparkSession, dir: String, epochs: Int = 4,
                      numPartitions: Int = 8): DataFrame = {
    val policy = CdcUpsert.Partitioned(numPartitions, maxDeltas = 0)
    // Ingested tree is a deterministic function of (corpus, epoch
    // split) and compaction is DISABLED (maxDeltas=0), so every epoch's
    // delta files persist and the per-epoch observations below read
    // identically post-hoc — built once per JVM (the q99 recipe);
    // iterations measure the observation reads themselves: which
    // partitions hold a delta, the per-epoch delta counts, and the
    // range-pruned as-of folds. q97 deliberately KEEPS its inline form:
    // its Rewrite arm GCs v(k−2) at apply time, so its per-epoch
    // observations only exist at apply time (rowsWrittenAt doc).
    val base = graft.tools.StateCache.getOrBuild("q101_sparse_touch",
      s"$dir@${graft.tools.ArtifactCache.pathToken(dir)}|$epochs|$numPartitions") { root =>
      val statePath = s"$root/state"
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .stage()
      val mm = ev.agg(min(col("user_id")), max(col("user_id"))).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      graft.tools.RangeState.freezeUniform(statePath, hi, numPartitions)
      val width = (hi - lo) / epochs + 1
      (0 until epochs).foreach { k =>
        CdcUpsert.applyBatch(
          ev.filter(expr(s"(user_id - $lo) div $width") === k),
          k, statePath, policy)
      }
    }
    val statePath = s"$base/state"
    // partDirs lists only partitions a delta ever wrote; the inline
    // form observed it AFTER epoch k (cumulative as of k). With every
    // delta retained, "existed as of k" == "holds some delta/vj, j<=k".
    val allDirs = graft.tools.RangeState.partDirs(statePath)
    def hasDelta(p: String, j: Int): Boolean =
      new java.io.File(s"$p/delta/v$j").isDirectory
    val stats = (0 until epochs).map { k =>
      val touched = allDirs.count(hasDelta(_, k)).toLong
      val totalAsOf = allDirs.count(p => (0 to k).exists(hasDelta(p, _))).toLong
      val written = CdcUpsert.rowsWrittenAt(spark, statePath, k, policy)
      // The as-of-k path set, assembled directly (no compaction ⇒ only
      // deltas v_j, j ≤ k): RangeState.pathsAsOf would trip the GC-floor
      // guard on partitions FIRST touched after k — a partition the
      // inline form's epoch-k read simply did not see yet.
      val asOfPaths = allDirs.flatMap(p =>
        (0 to k).filter(hasDelta(p, _)).map(j => s"$p/delta/v$j"))
      val stateRows =
        if (asOfPaths.isEmpty) 0L
        else CdcUpsert.fold(Tables.parquet(spark, asOfPaths: _*)).count()
      (k.toLong, touched, totalAsOf, written, stateRows)
    }
    import spark.implicits._
    stats.toDF("epoch", "touched_parts", "total_parts", "delta_rows",
        "state_rows")
      .orderBy(col("epoch"))
  }

  /** Uniform-boundary bucket arithmetic mirrored exactly: span =
    * GREATEST(1, MAX(user_id)); boundaries = distinct positive
    * i·span // 8; bucket(u) = boundaries ≤ u. Key-local batches touch
    * ~2 of 8 partitions — the contrast with q97's uniform pole, now in
    * the hash. */
  val q101Sql: String =
    """WITH sp AS (SELECT GREATEST(1, MAX(user_id)) AS span FROM events),
      |mm AS (SELECT MIN(user_id) AS lo, MAX(user_id) AS hi FROM events),
      |bnd AS (SELECT DISTINCT (i * span) // 8 AS bd
      |        FROM range(1, 8) t(i), sp WHERE (i * span) // 8 > 0),
      |u AS (SELECT user_id,
      |        (user_id - lo) // ((hi - lo) // 4 + 1) AS epoch,
      |        (SELECT COUNT(*) FROM bnd WHERE bd <= user_id) AS bucket
      |      FROM (SELECT DISTINCT user_id FROM events), mm),
      |e AS (SELECT range AS epoch FROM range(0, 4))
      |SELECT e.epoch,
      |  (SELECT COUNT(DISTINCT bucket) FROM u WHERE u.epoch = e.epoch)
      |    AS touched_parts,
      |  (SELECT COUNT(DISTINCT bucket) FROM u WHERE u.epoch <= e.epoch)
      |    AS total_parts,
      |  (SELECT COUNT(*) FROM u WHERE u.epoch = e.epoch) AS delta_rows,
      |  (SELECT COUNT(*) FROM u WHERE u.epoch <= e.epoch) AS state_rows
      |FROM e ORDER BY epoch""".stripMargin

  /** CSV source round-trip with explicit schema: documents written as
    * quoted CSV (texts contain commas/quotes in the general case), read
    * back with the schema declared — never inferred: at 100 TB schema
    * inference is a full extra scan — then aggregated on integer-exact
    * measures (counts and lengths survive any text serialization
    * bit-exactly; doubles through CSV would not be guaranteed to). The
    * oracle computes the same aggregate from the parquet fixture, so the
    * whole quote/escape/parse cycle sits inside the hash check. */
  def q90CsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.tools.TempDirs.createFast("graft-q90")
    try {
      val docs = Tables.documents(spark, dir)
      docs.write.mode("overwrite")
        .option("header", "true").option("quoteAll", "true")
        .csv(s"$base/docs")
      spark.read.schema(docs.schema)
        .option("header", "true")
        // multiLine: quoted fields may span record separators; without
        // it the reader splits on raw newlines before parsing quotes.
        // Costs per-file (not per-split) read parallelism — the write
        // above produced multiple files, so parallelism survives.
        .option("multiLine", "true")
        .csv(s"$base/docs")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text"))).as("sum_text_len"))
        .orderBy(col("lang"), col("source"))
        .stage()
    } finally graft.tools.TempDirs.deleteRecursively(base)
  }

  val q90Sql: String =
    """SELECT lang, source, COUNT(*) AS n,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_text_len
      |FROM documents
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin

  /** ORC round-trip: the other columnar format large estates actually
    * hold (Hive-era lakes are ORC). Unlike CSV, ORC is typed and
    * self-describing, so doubles survive bit-exactly — the aggregate
    * includes a decimal-cast value sum to prove it, not just integer
    * measures. Oracle recomputes from the parquet fixture: format
    * conversion must be a no-op on content. */
  def q92OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.tools.TempDirs.createFast("graft-q92")
    try {
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").orc(s"$base/events")
      spark.read.orc(s"$base/events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
        .orderBy(col("event_type"))
        .stage()
    } finally graft.tools.TempDirs.deleteRecursively(base)
  }

  val q92Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Schema-evolution read: two parquet batches written with DIFFERENT
    * schemas (the second gains a column), merged by `mergeSchema` — the
    * standard reality of long-lived datasets where producers add fields.
    * Rows from the old batch surface the new column as NULL; the
    * aggregate counts both generations. The oracle reproduces the split
    * with the same modulus predicate on the fixture. */
  def q91SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.tools.TempDirs.createFast("graft-q91")
    try {
      val ev = Tables.events(spark, dir)
      ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .select(col("event_id"), col("user_id"))
        .write.mode("overwrite").parquet(s"$base/data/gen=0")
      ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .write.mode("overwrite").parquet(s"$base/data/gen=1")
      spark.read.option("mergeSchema", "true").parquet(s"$base/data")
        .groupBy(coalesce(col("event_type"), lit("_pre_schema")).as("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
        .stage()
    } finally graft.tools.TempDirs.deleteRecursively(base)
  }

  val q91Sql: String =
    """SELECT CASE WHEN ((event_id % 2) + 2) % 2 = 0
      |       THEN '_pre_schema' ELSE event_type END
      |    AS event_type,
      |  COUNT(*) AS n,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events
      |GROUP BY 1
      |ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q82_lateral"         -> (q82Lateral _),
    "q83_recursive"       -> (q83Recursive _),
    "q87_stream_upsert"   -> ((s: SparkSession, d: String) => q87StreamUpsert(s, d)),
    "q95_mor_upsert"      -> ((s: SparkSession, d: String) => q95MorUpsert(s, d)),
    "q96_partitioned_upsert" -> ((s: SparkSession, d: String) => q96PartitionedUpsert(s, d)),
    "q97_state_layout"    -> ((s: SparkSession, d: String) => q97StateLayout(s, d)),
    "q98_point_lookup"    -> ((s: SparkSession, d: String) => q98PointLookup(s, d)),
    "q99_secondary_index" -> ((s: SparkSession, d: String) => q99SecondaryIndex(s, d)),
    "q100_late_quarantine" -> ((s: SparkSession, d: String) => q100LateQuarantine(s, d)),
    "q101_sparse_touch" -> ((s: SparkSession, d: String) => q101SparseTouch(s, d)),
    "q90_csv_roundtrip"   -> (q90CsvRoundtrip _),
    "q91_schema_evolution" -> (q91SchemaEvolution _),
    "q92_orc_roundtrip"   -> (q92OrcRoundtrip _),
    "q84_stream_paged_sink" -> (q84StreamPagedSink _),
    "q85_stream_paged_source" -> (q85StreamPagedSource _),
    "q71_ewma"            -> (q71Ewma _),
    "q72_scd2"            -> (q72Scd2 _),
    "q73_histogram"       -> (q73Histogram _),
    "q66_stream_static_join" -> (q66StreamStaticJoin _),
    "q67_upsert_merge"    -> (q67UpsertMerge _),
    "q68_stream_sliding_sink" -> (q68StreamSlidingSink _),
    "q69_correlated_exists" -> (q69CorrelatedExists _),
    "q70_unpivot"         -> (q70Unpivot _),
    "q57_map_roundtrip"   -> (q57MapRoundtrip _),
    "q58_value_windows"   -> (q58ValueWindows _),
    "q54_window_distribution" -> (q54WindowDistribution _),
    "q55_grouping_sets"   -> (q55GroupingSets _),
    "q56_posexplode"      -> (q56Posexplode _),
    "q46_to_json"         -> (q46ToJson _),
    "q47_null_handling"   -> (q47NullHandling _),
    "q44_range_frame"     -> (q44RangeFrame _),
    "q45_intersect_all"   -> (q45IntersectAll _),
    "q43_string_batch"    -> (q43StringBatch _),
    "q41_sliding_window"  -> (q41SlidingWindow _),
    "q42_session_window"  -> (q42SessionWindow _),
    "q39_setops_all"      -> (q39SetOpsAll _),
    "q40_row_ids"         -> (q40RowIds _),
    "q25_from_json"       -> (q25FromJson _),
    "q26_array_funcs"     -> (q26ArrayFuncs _),
    "q27_date_funcs"      -> (q27DateFuncs _),
    "q28_math_funcs"      -> (q28MathFuncs _),
    "q29_cond_agg"        -> (q29CondAgg _),
    "q30_scalar_subquery" -> (q30ScalarSubquery _),
    "q31_in_subquery"     -> (q31InSubquery _),
    "q32_pivot"           -> (q32Pivot _),
    "q33_stream_tumbling" -> (q33StreamTumbling _),
    "q50_stream_file_sink" -> (q50StreamFileSink _),
    "q51_stream_session_sink" -> (q51StreamSessionSink _),
    "q53_stream_dedup_sink" -> (q53StreamDedupSink _),
    "q59_stream_stream_join" -> (q59StreamStreamJoin _),
    "q60_stream_outer_join" -> (q60StreamOuterJoin _),
    "q61_partitioned_write" -> (q61PartitionedWrite _),
    "q62_hll_sketch"      -> (q62HllSketch _),
    "q62_hll_bound"       -> (q62HllBound _),
    "q62_hll_bound_stream" -> ((s: SparkSession, d: String) => q62HllBoundStream(s, d)),
    "q103_time_travel"    -> ((s: SparkSession, d: String) => q103TimeTravel(s, d)),
    "q63_foreach_batch"   -> (q63ForeachBatchSink _),
    "q64_json_roundtrip"  -> (q64JsonRoundtrip _),
    "q65_custom_sessionize" -> (q65CustomSessionize _),
  )

  val oracles: Map[String, String] = Map(
    "q82_lateral"         -> q82Sql,
    "q62_hll_bound"       -> q62HllBoundSql,
    // streaming twin folds per-epoch sketches via HLL union — same oracle
    "q62_hll_bound_stream" -> q62HllBoundSql,
    "q103_time_travel"    -> q103Sql,
    "q83_recursive"       -> q83Sql,
    "q87_stream_upsert"   -> q87Sql,
    "q95_mor_upsert"      -> q87Sql, // same final table — only the state protocol differs
    "q96_partitioned_upsert" -> q87Sql, // ditto: partitioned MOR layout, same result
    "q97_state_layout"    -> q97Sql,
    "q98_point_lookup"    -> q98Sql,
    "q99_secondary_index" -> q99Sql,
    "q100_late_quarantine" -> q100Sql,
    "q101_sparse_touch" -> q101Sql,
    "q90_csv_roundtrip"   -> q90Sql,
    "q91_schema_evolution" -> q91Sql,
    "q92_orc_roundtrip"   -> q92Sql,
    "q84_stream_paged_sink" -> q50Sql, // same aggregation, same cutoff — through the DSv2 sink
    "q85_stream_paged_source" -> q85Sql,
    "q71_ewma"            -> q71Sql,
    "q72_scd2"            -> q72Sql,
    "q73_histogram"       -> q73Sql,
    "q66_stream_static_join" -> q66Sql,
    "q67_upsert_merge"    -> q67Sql,
    "q68_stream_sliding_sink" -> q68Sql,
    "q69_correlated_exists" -> q69Sql,
    "q70_unpivot"         -> q70Sql,
    "q57_map_roundtrip"   -> q57Sql,
    "q58_value_windows"   -> q58Sql,
    "q54_window_distribution" -> q54Sql,
    "q55_grouping_sets"   -> q55Sql,
    "q56_posexplode"      -> q56Sql,
    "q46_to_json"         -> q46Sql,
    "q47_null_handling"   -> q47Sql,
    "q44_range_frame"     -> q44Sql,
    "q45_intersect_all"   -> q45Sql,
    "q43_string_batch"    -> q43Sql,
    "q41_sliding_window"  -> q41Sql,
    "q42_session_window"  -> q42Sql,
    "q39_setops_all"      -> q39Sql,
    "q40_row_ids"         -> q40Sql,
    "q25_from_json"       -> q25Sql,
    "q26_array_funcs"     -> q26Sql,
    "q27_date_funcs"      -> q27Sql,
    "q28_math_funcs"      -> q28Sql,
    "q29_cond_agg"        -> q29Sql,
    "q30_scalar_subquery" -> q30Sql,
    "q31_in_subquery"     -> q31Sql,
    "q32_pivot"           -> q32Sql,
    "q33_stream_tumbling" -> q33Sql,
    "q50_stream_file_sink" -> q50Sql,
    "q51_stream_session_sink" -> q51Sql,
    "q53_stream_dedup_sink" -> q53Sql,
    "q59_stream_stream_join" -> q59Sql,
    "q60_stream_outer_join" -> q60Sql,
    "q61_partitioned_write" -> q61Sql,
    "q63_foreach_batch"   -> q33Sql,
    "q64_json_roundtrip"  -> q64Sql,
    "q65_custom_sessionize" -> q65Sql,
  )
}
