package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.tools.Stage._

/** Reference-parity ETL pipeline (SURVEY.md §2.9, §3.1): the one flow the
  * reference actually runs — two sources → union-by-name → full-row dedup →
  * conditional external enrichment with retry/backoff → load.
  *
  * Reference trace (`/root/reference/flows/etl.py:289-311`): scrape two
  * paginated tables (298-302), `pd.concat(...).drop_duplicates()` (304),
  * `geocode_dataframe` guarded by `row['Localizar'] == 'No disponible'`
  * (208) with retry/backoff (215-237), bulk-load (308).
  *
  * Spark-first re-expression:
  *  - sources: any two DataFrames (lazy scans, not eager scrapes);
  *  - combine: `unionByName` + `dropDuplicates` (hash-partitioned);
  *  - enrichment: `mapPartitions`-shaped — client created once per
  *    partition (the reference creates one geolocator for the whole frame,
  *    `flows/etl.py:198`), per-row retry with exponential backoff
  *    (deviating deliberately from the reference's shared attempt budget,
  *    `flows/etl.py:201` — documented fidelity fix, SURVEY §7.4);
  *  - the enrich UDF is marked non-deterministic so Catalyst will not
  *    duplicate it or push it past its guard predicate;
  *  - failure → null coordinate (P4 parity: `flows/etl.py:212,231-234`).
  */
object EtlPipeline {

  val NotAvailable = "No disponible"

  /** The reference's lat/lng regex (`flows/etl.py:150`):
    * `\(([-+]?\d+\.\d+),\s*([-+]?\d+\.\d+)` over an onclick attribute. */
  val LatLngPattern = """\(([-+]?\d+\.\d+),\s*([-+]?\d+\.\d+)"""

  /** Extract "lat,lng" from a raw onclick-style string, or NotAvailable —
    * scan-time decode parity (`flows/etl.py:150-154`). */
  def decodeLocation(raw: Column): Column = {
    val lat = regexp_extract(raw, LatLngPattern, 1)
    val lng = regexp_extract(raw, LatLngPattern, 2)
    when(lat =!= "" && lng =!= "", concat_ws(",", lat, lng))
      .otherwise(lit(NotAvailable))
  }

  /** Address assembly parity (`flows/etl.py:218`):
    * f"{direccion}, {localidad}, ARGENTINA". */
  def assembleAddress(direccion: Column, localidad: Column): Column =
    concat_ws(", ", direccion, localidad, lit("ARGENTINA"))

  /** Geocoder contract: address → Some("lat,lng") | None (not found).
    * Throwing signals a transient failure (triggers retry). */
  type Geocoder = String => Option[String]

  /** Per-row retry with exponential backoff — E2 parity
    * (`flows/etl.py:215-237`), with the attempt budget reset per row
    * (fidelity fix over the reference's shared budget, documented). */
  def geocodeWithRetry(geocode: Geocoder, address: String,
                                    maxAttempts: Int = 5,
                                    initialBackoffMs: Long = 0L): Option[String] = {
    var attempt = 0
    var backoff = initialBackoffMs
    while (attempt < maxAttempts) {
      try {
        return geocode(address)
      } catch {
        case _: Exception =>
          attempt += 1
          if (attempt < maxAttempts && backoff > 0) {
            Thread.sleep(backoff)
            backoff *= 2 // exponential, ×2 per retry (flows/etl.py:224-225)
          }
      }
    }
    None // hard failure → null coordinate (flows/etl.py:212)
  }

  /** Deterministic mock geocoder (tests/fixtures — SURVEY §5.5): hash the
    * address into a plausible Buenos Aires-province lat/lng. */
  def mockGeocoder: Geocoder = { address =>
    if (address == null || address.isEmpty) None
    else {
      val h = address.hashCode.toLong & 0x7fffffffL
      val lat = -38.0 + (h % 4000) / 1000.0        // [-38, -34)
      val lng = -63.0 + ((h / 4000) % 5000) / 1000.0 // [-63, -58)
      // Locale.ROOT: the oracle's printf always uses '.', so the mock
      // must not follow the JVM default locale's decimal separator
      Some("%.3f,%.3f".formatLocal(java.util.Locale.ROOT, lat, lng))
    }
  }

  /** The full combine+enrich pipeline over two source frames with columns
    * (direccion, localidad, rubro, localizar):
    * union-by-name → full-row dedup → enrich rows whose `localizar` is
    * NotAvailable via the geocoder (with retry), leaving others untouched
    * (`flows/etl.py:208,239`). Dedup runs BEFORE enrichment, as the
    * reference orders it (304 → 306) — never pay the expensive external
    * call for a row dedup would discard. */
  def combineAndEnrich(a: DataFrame, b: DataFrame, geocode: Geocoder,
                       spark: SparkSession): DataFrame = {
    val combined = a.unionByName(b).dropDuplicates()
    val geocodeUdf = udf { (address: String) =>
      geocodeWithRetry(geocode, address).orNull
    }.asNondeterministic() // side-effecting external call: never duplicate/reorder
    combined.withColumn("localizar",
      when(col("localizar") === NotAvailable,
        geocodeUdf(assembleAddress(col("direccion"), col("localidad"))))
        .otherwise(col("localizar")))
  }

  /** Batched sink parity (K1/K2, `flows/etl.py:256-286`): schema-only
    * create via limit(0) overwrite, then append — expressed on the parquet
    * writer here (same writer API takes .jdbc with batchsize/numPartitions
    * against a real database). */
  def writeBatched(df: DataFrame, path: String): Unit = {
    df.limit(0).write.mode("overwrite").parquet(path) // L1: schema-only DDL
    df.write.mode("append").parquet(path)             // K2: parallel append
  }

  /** The same K1/K2 protocol against a REAL JDBC database (the reference
    * targets Postgres via pandas `to_sql(..., chunksize=500)`,
    * `flows/etl.py:256-286`): schema-only overwrite issues the DDL, then a
    * chunked parallel append — `numPartitions` concurrent connections,
    * `batchsize` rows per INSERT batch. Works against any JDBC URL; the
    * integration spec drives it with embedded Derby (the JDBC engine on
    * Spark's classpath), production points it at Postgres.
    *
    * NOT atomic and NOT idempotent (same hazard as the reference's chunked
    * `to_sql`): the overwrite-DDL and the append run as separate jobs, so a
    * failure or concurrent re-run between them leaves an empty or
    * partially-loaded table. Where exactly-once matters, write to a staging
    * table and rename on success (dialect-dependent), or make the load
    * idempotent via a run-id column + delete-before-append. */
  def writeJdbc(df: DataFrame, url: String, table: String,
                batchSize: Int = 500, numPartitions: Int = 4): Unit = {
    // Embedded Derby writes derby.log to the CWD of whatever JVM first
    // boots the engine — for the Verify/Bench mains that is the repo
    // root. Point it at scratch BEFORE the first connection (the
    // property is read once at engine boot; a no-op for non-Derby URLs
    // and for JVMs where the engine is already up).
    if (System.getProperty("derby.stream.error.file") == null)
      System.setProperty("derby.stream.error.file",
        s"${graft.tools.TempDirs.resolvedRoot}/graft-derby.log")
    val w = (d: DataFrame) => d.write
      .option("batchsize", batchSize)
      .option("numPartitions", numPartitions)
    w(df.limit(0)).mode("overwrite").jdbc(url, table, new java.util.Properties) // K1 DDL
    w(df).mode("append").jdbc(url, table, new java.util.Properties)            // K2 chunked append
  }

  /** Fixture-shaped pipeline run for the driver contract: builds the two
    * "scraped" source frames from customer ⋈ nation (string columns, a
    * location that is present for even keys and NotAvailable otherwise —
    * mirroring the reference's half-filled Localizar column), then runs
    * combine+enrich with the deterministic mock geocoder.
    *
    * ORACLED since round 6: the UDF's nondeterminism MARK is an
    * optimizer fence (never duplicate/reorder the external call), but
    * the mock itself is a pure function of the address, and Java's
    * `String.hashCode` is expressible in DuckDB as a `list_reduce` with
    * explicit 32-bit wraparound — so the whole E1 enrichment branch
    * (guard, address assembly, hash, formatting) sits inside the
    * bitwise hash gate. */
  def pipelineQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(
        col("c_name").as("direccion"),
        col("n_name").as("localidad"),
        col("c_mktsegment").as("rubro"),
        when(col("c_custkey") % 2 === 0,
          concat_ws(",",
            round(lit(-34.0) - col("c_custkey") % 100 / 100.0, 3).cast("string"),
            round(lit(-58.0) - col("c_custkey") % 100 / 100.0, 3).cast("string")))
          .otherwise(lit(NotAvailable)).as("localizar"),
        col("c_custkey"))
    // two overlapping "pages" (the reference scrapes two tables that share rows)
    val pageA = base.filter(col("c_custkey") % 3 =!= 0).drop("c_custkey")
    val pageB = base.filter(col("c_custkey") % 2 === 0).drop("c_custkey")
    combineAndEnrich(pageA, pageB, mockGeocoder, spark)
      .orderBy(col("direccion"), col("localidad"), col("rubro"), col("localizar"))
  }

  /** One JVM-lifetime scratch root for the round trips' page dirs,
    * created on first use and deleted at JVM exit: the returned frames
    * read their pages lazily, so a call cannot delete its own dir. */
  private lazy val pagesRoot =
    java.nio.file.Paths.get(graft.tools.TempDirs.createFastForJvm("graft-etl-pages"))

  private def pagesDirFor(prefix: String): String =
    java.nio.file.Files.createTempDirectory(pagesRoot, prefix).toString

  /** DSv2 source round-trip, oracle-checked: materialize "scraped pages"
    * from customer ⋈ nation as TSV page files (distributed CSV write, one
    * header per page file — exactly the paged-table shape), then scan them
    * back through graft.sources.PagedTableSource with scan-time location
    * decode. The oracle recomputes the same rows in pure SQL, so the
    * source's header discovery, pagination, trimming, and regex decode are
    * all inside the hash check. */
  def sourceRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(
        col("c_name").as("direccion"),
        col("n_name").as("localidad"),
        col("c_mktsegment").as("rubro"),
        when(col("c_custkey") % 2 === 0,
          format_string("javascript:mapa(%.3f,%.3f)",
            lit(-34.0) - (col("c_custkey") % 100) / 100.0,
            lit(-58.0) - (col("c_custkey") % 100) / 100.0))
          .otherwise(lit("sin datos")).as("localizar"))
    val pagesDir = pagesDirFor("graft-pages")
    // the DSv2 WRITE path: tasks stage pages, the driver commit renames
    // them into the visible layout + `_count` sidecar — so the sink's
    // two-phase commit protocol sits inside the hash gate along with the
    // scan (no driver-side file shuffling here anymore)
    raw.repartition(4).write.mode("overwrite")
      .format("graft.sources.PagedTableSource")
      .option("path", pagesDir).save()
    spark.read.format("graft.sources.PagedTableSource")
      .option("decodeLocation", "localizar")
      .load(pagesDir)
      .orderBy(col("direccion"), col("localidad"), col("rubro"), col("localizar"))
  }

  /** The SAME round trip over REAL `<table>` MARKUP pages — the last S3
    * fidelity delta (the reference extracts from a live DOM,
    * flows/etl.py:144-162): pages are written as html (`<th>` headers;
    * the location value riding in an anchor's onclick attribute — the
    * `anchorCol` option) and read back with `pageFormat=html` plus two
    * layout `<th>`s prepended per page file, exercising the reference's
    * header-slice rule (skip N layout `<th>`s whose rows carry no
    * cells, flows/etl.py:110). Same oracle, same hash as
    * etl_source_scan: markup is a transport, not a semantic. Browser
    * automation itself stays environment-bound (no browser in the
    * sandbox — documented deviation); the DOM-shaped parse is now real. */
  def sourceRoundTripHtml(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(
        col("c_name").as("direccion"),
        col("n_name").as("localidad"),
        col("c_mktsegment").as("rubro"),
        when(col("c_custkey") % 2 === 0,
          format_string("javascript:mapa(%.3f,%.3f)",
            lit(-34.0) - (col("c_custkey") % 100) / 100.0,
            lit(-58.0) - (col("c_custkey") % 100) / 100.0))
          .otherwise(lit("sin datos")).as("localizar"))
    val pagesDir = pagesDirFor("graft-hpages")
    raw.repartition(4).write.mode("overwrite")
      .format("graft.sources.PagedTableSource")
      .option("path", pagesDir)
      .option("pageFormat", "html")
      .option("anchorCol", "localizar").save()
    // prepend layout <th>s the reference's header slice must drop —
    // their rows carry no <td>s, exactly like the scraped page
    graft.sources.PagedTableSource.pageFiles(pagesDir).foreach { f =>
      val p = java.nio.file.Paths.get(f)
      val content = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      java.nio.file.Files.write(p, content.replace("<thead><tr>",
        "<thead><tr><th>#</th><th> </th>").getBytes("UTF-8"))
    }
    spark.read.format("graft.sources.PagedTableSource")
      .option("pageFormat", "html")
      .option("skipColumns", 2)
      .option("decodeLocation", "localizar")
      .load(pagesDir)
      .orderBy(col("direccion"), col("localidad"), col("rubro"), col("localizar"))
  }

  val sourceRoundTripSql: String =
    """SELECT c_name AS direccion, n_name AS localidad, c_mktsegment AS rubro,
      |  CASE WHEN c_custkey % 2 = 0 THEN
      |    printf('%.3f,%.3f', -34.0 - (c_custkey % 100) / 100.0,
      |                        -58.0 - (c_custkey % 100) / 100.0)
      |  ELSE 'No disponible' END AS localizar
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY direccion, localidad, rubro, localizar""".stripMargin

  /** The embedded Derby database the sink round trips load into: one per
    * JVM, created on first use under a JVM-lifetime scratch dir (the
    * [[pagesRoot]] recipe) and deleted at JVM exit. Each call gets its own
    * table instead of its own database, so no call pays a database boot
    * and shutdown. */
  private[graft] lazy val jdbcSinkUrl: String =
    s"jdbc:derby:${graft.tools.TempDirs.createFastForJvm("graft-jdbc")}/db;create=true"

  private val jdbcSinkTables = new java.util.concurrent.atomic.AtomicLong()

  /** K1/K2 through the HASH GATE: the chunked JDBC load (schema DDL +
    * batched parallel append — writeJdbc, the reference's `to_sql` shape)
    * against a real embedded Derby database, read back through Spark's
    * JDBC source. Deterministic end to end, so the DDL type mapping, the
    * batched inserts over `numPartitions` connections, and the read-back
    * row set all sit inside the bitwise oracle compare. Derby uppercases
    * unquoted identifiers, so read-back columns re-alias to lowercase
    * (resolution is case-insensitive; the gate comparator is not).
    * Each call loads a fresh `orders_sink_<n>` table of [[jdbcSinkUrl]]
    * and drops it once the read-back is staged.
    * Embedded Derby is reachable from executors only because local mode
    * is single-JVM — production points the same code at a server URL. */
  def jdbcSinkRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val url = jdbcSinkUrl
    val table = s"orders_sink_${jdbcSinkTables.incrementAndGet()}"
    val df = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"))
    try {
      writeJdbc(df, url, table, batchSize = 500, numPartitions = 4)
      spark.read.jdbc(url, table, new java.util.Properties)
        .select(col("o_orderkey").as("o_orderkey"),
          col("o_custkey").as("o_custkey"),
          col("o_orderstatus").as("o_orderstatus"),
          col("o_totalprice").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
        .stage() // materialize before the table is dropped
    } finally {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        try st.execute(s"DROP TABLE $table")
        catch { // 42Y55: no such table — the DDL never ran
          case e: java.sql.SQLException if e.getSQLState == "42Y55" => ()
        }
        finally st.close()
      } finally c.close()
    }
  }

  val jdbcSinkRoundTripSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_etl"    -> (pipelineQuery _),
    "etl_source_scan" -> (sourceRoundTrip _),
    "etl_source_scan_html" -> (sourceRoundTripHtml _),
    "etl_jdbc_sink"   -> (jdbcSinkRoundTrip _),
  )

  /** DuckDB twin of the full pipeline: sources → union → DISTINCT →
    * conditional enrichment, with `String.hashCode` reproduced as a
    * list_reduce over ASCII codes with explicit signed-32-bit
    * wraparound (the addresses are ASCII, so UTF-16 units = code
    * points = ord()). */
  val pipelineSql: String =
    """WITH base AS (
      |  SELECT c_name AS direccion, n_name AS localidad,
      |    c_mktsegment AS rubro,
      |    CASE WHEN c_custkey % 2 = 0 THEN
      |      concat_ws(',',
      |        CAST(round(-34.0 - (c_custkey % 100) / 100.0, 3) AS VARCHAR),
      |        CAST(round(-58.0 - (c_custkey % 100) / 100.0, 3) AS VARCHAR))
      |    ELSE 'No disponible' END AS localizar,
      |    c_custkey
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |), combined AS (
      |  SELECT DISTINCT direccion, localidad, rubro, localizar FROM (
      |    SELECT direccion, localidad, rubro, localizar
      |    FROM base WHERE c_custkey % 3 <> 0
      |    UNION ALL
      |    SELECT direccion, localidad, rubro, localizar
      |    FROM base WHERE c_custkey % 2 = 0)
      |), hashed AS (
      |  SELECT direccion, localidad, rubro, localizar,
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(
      |          string_split(concat_ws(', ', direccion, localidad, 'ARGENTINA'), ''),
      |          c -> CAST(ord(c) AS BIGINT))),
      |      (a, b) -> ((31 * a + b + 2147483648) % 4294967296) - 2147483648
      |    ) AS h
      |  FROM combined
      |)
      |SELECT direccion, localidad, rubro,
      |  CASE WHEN localizar = 'No disponible' THEN
      |    printf('%.3f,%.3f',
      |      -38.0 + ((h & 2147483647) % 4000) / 1000.0,
      |      -63.0 + (((h & 2147483647) // 4000) % 5000) / 1000.0)
      |  ELSE localizar END AS localizar
      |FROM hashed
      |ORDER BY direccion, localidad, rubro, localizar""".stripMargin

  /** All three ETL entries are deterministic end to end ⇒ oracled (the
    * enrichment UDF's nondeterministic MARK is an optimizer fence, not
    * actual nondeterminism). */
  val oracles: Map[String, String] = Map(
    "pipeline_etl"    -> pipelineSql,
    "etl_source_scan" -> sourceRoundTripSql,
    "etl_source_scan_html" -> sourceRoundTripSql,
    "etl_jdbc_sink"   -> jdbcSinkRoundTripSql,
  )
}
