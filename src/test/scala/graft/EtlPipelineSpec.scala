package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.ops.EtlPipeline
import graft.ops.EtlPipeline.NotAvailable

/** Reference-fidelity unit tests (SURVEY §5.2): union-then-dedup
  * (`flows/etl.py:304`), conditional enrichment leaving non-matching rows
  * untouched (208, 239), null on enrichment failure (212, 231-234), lat/lng
  * regex extraction (150), per-row retry. */
class EtlPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def frame(rows: (String, String, String, String)*) =
    rows.toSeq.toDF("direccion", "localidad", "rubro", "localizar")

  test("union-by-name + full-row dedup removes cross-source duplicates") {
    val a = frame(("addr1", "loc1", "r1", "1.0,2.0"), ("addr2", "loc2", "r2", NotAvailable))
    val b = frame(("addr1", "loc1", "r1", "1.0,2.0"), ("addr3", "loc3", "r3", "3.0,4.0"))
    val out = EtlPipeline.combineAndEnrich(a, b, _ => None, spark)
    assert(out.count() == 3) // addr1 deduped
  }

  test("enrichment only touches NotAvailable rows; others pass through") {
    val a = frame(("addr1", "loc1", "r1", "1.0,2.0"), ("addr2", "loc2", "r2", NotAvailable))
    val out = EtlPipeline.combineAndEnrich(a, frame(), _ => Some("9.9,8.8"), spark)
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(out("addr1") == "1.0,2.0")   // untouched (flows/etl.py:239 guard)
    assert(out("addr2") == "9.9,8.8")   // enriched
  }

  test("geocoder returning None / failing leaves a null coordinate") {
    val a = frame(("addr2", "loc2", "r2", NotAvailable))
    val notFound = EtlPipeline.combineAndEnrich(a, frame(), _ => None, spark).collect()
    assert(notFound.head.isNullAt(3)) // flows/etl.py:212 → NULL
    val failing = EtlPipeline.combineAndEnrich(a, frame(),
      _ => throw new RuntimeException("boom"), spark).collect()
    assert(failing.head.isNullAt(3)) // retries exhausted → NULL (231-234)
  }

  test("enrichment receives the assembled address (direccion, localidad, ARGENTINA)") {
    // echo-geocoder: the enriched cell IS the address it was handed
    // (closures are serialized per task, so assert via output, not capture)
    val a = frame(("Av. Mitre 100", "Avellaneda", "r", NotAvailable))
    val out = EtlPipeline.combineAndEnrich(a, frame(), addr => Some(addr), spark)
      .collect().head.getString(3)
    assert(out == "Av. Mitre 100, Avellaneda, ARGENTINA")
  }

  test("lat/lng regex decodes onclick-style payloads; else NotAvailable") {
    val df = Seq(
      "javascript:mapa(-34.6037,-58.3816)",
      "mapa(+12.5, 99.25); return false",
      "no coords here",
      "",
    ).toDF("raw").select(EtlPipeline.decodeLocation(col("raw")).as("loc"))
    assert(df.as[String].collect().toSeq ==
      Seq("-34.6037,-58.3816", "+12.5,99.25", NotAvailable, NotAvailable))
  }

  test("retry helper: transient failures retried, then result; budget per call") {
    var calls = 0
    val flaky: EtlPipeline.Geocoder = { _ =>
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      Some("1.0,1.0")
    }
    assert(EtlPipeline.geocodeWithRetry(flaky, "x") == Some("1.0,1.0"))
    assert(calls == 3)
    // a second call gets a fresh budget (per-row reset — SURVEY §7.4 fidelity fix)
    calls = 0
    assert(EtlPipeline.geocodeWithRetry(flaky, "y") == Some("1.0,1.0"))
  }

  test("mock geocoder is deterministic and in-province") {
    val g = EtlPipeline.mockGeocoder
    val r1 = g("Some Address, Town, ARGENTINA")
    assert(r1 == g("Some Address, Town, ARGENTINA"))
    val Array(lat, lng) = r1.get.split(",").map(_.toDouble)
    assert(lat >= -38.0 && lat < -34.0 && lng >= -63.0 && lng < -58.0)
  }

  test("batched writer: schema-only create then append round-trips") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val df = frame(("a", "b", "c", "1.0,2.0"), ("d", "e", "f", NotAvailable))
    EtlPipeline.writeBatched(df, s"$dir/out")
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() == 2)
    assert(back.columns.toSeq == Seq("direccion", "localidad", "rubro", "localizar"))
  }

  test("JDBC sink: DDL + chunked append against a real database (Derby), read back") {
    // reference K1/K2 targets Postgres; no server exists in this sandbox,
    // but Derby (embedded JDBC) is on Spark's classpath — the write path
    // (dialect DDL, batched inserts over numPartitions connections) is the
    // same code that runs against a Postgres URL in production
    val dbDir = java.nio.file.Files.createTempDirectory("graft-derby").toString
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val df = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
    EtlPipeline.writeJdbc(df, url, "orders_sink", batchSize = 100, numPartitions = 4)
    val back = spark.read.jdbc(url, "orders_sink", new java.util.Properties)
    assert(back.count() == df.count())
    // spot-check content equality, not just cardinality
    val want = df.orderBy(col("o_orderkey")).limit(5).collect().map(_.toSeq).toSeq
    val got = back.orderBy(col("o_orderkey")).limit(5).collect().map(_.toSeq).toSeq
    assert(got == want)
    // appending again doubles the rows (no silent overwrite)
    df.write.mode("append").jdbc(url, "orders_sink", new java.util.Properties)
    assert(spark.read.jdbc(url, "orders_sink", new java.util.Properties).count()
      == 2 * df.count())
  }

  test("JDBC sink round trips share one database and drop their tables") {
    val first = EtlPipeline.jdbcSinkRoundTrip(spark, sf).collect().toSeq
    val second = EtlPipeline.jdbcSinkRoundTrip(spark, sf).collect().toSeq
    assert(first.nonEmpty)
    assert(second == first)
    val c = java.sql.DriverManager.getConnection(EtlPipeline.jdbcSinkUrl)
    try {
      val rs = c.getMetaData.getTables(null, null, "ORDERS_SINK_%", null)
      val left = Iterator.continually(rs).takeWhile(_.next())
        .map(_.getString("TABLE_NAME")).toList
      assert(left.isEmpty, s"sink tables left behind: $left")
    } finally c.close()
  }

  test("the source round trips leave no page dir in java.io.tmpdir") {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def pageDirs(): Set[String] = {
      val names = java.nio.file.Files.list(tmp)
      try names.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("graft-pages") || n.startsWith("graft-hpages"))
        .toSet
      finally names.close()
    }
    val before = pageDirs()
    for (_ <- 1 to 2; q <- Seq("etl_source_scan", "etl_source_scan_html"))
      assert(SparkEntry.queries(q)(spark, sf).count() > 0)
    assert(pageDirs() -- before == Set.empty)
  }

  test("smoke check: SparkEntry.entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
