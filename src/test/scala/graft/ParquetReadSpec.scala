package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** The one batch parquet reader ([[Tables.parquet]]): a repeated read of
  * an unchanged file set runs no schema-inference job, and the cached
  * schema can never be stale — a file rewritten in place and a flipped
  * inference conf both re-infer — while every read still builds a fresh
  * relation and returns exactly what a plain `spark.read.parquet` does. */
class ParquetReadSpec extends SparkSpec {

  /** Spark jobs started while `body` runs, with the listener bus drained
    * on both sides so no earlier job leaks in and no late one is lost. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    GraftShim.waitListeners(spark)
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      GraftShim.waitListeners(spark)
      (a, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** One single-file parquet copied to `dst` (overwriting), the way the
    * fixture tables are laid out: a plain `.parquet` file, not a dir. */
  private def writeFile(df: DataFrame, dst: String): Unit = {
    val tmp = Files.createTempDirectory("graft-pq-src").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(part, Paths.get(dst), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second read of an unchanged path runs no Spark job") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pq").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$dir/t")
    val (_, first) = jobsDuring(Tables.parquet(spark, s"$dir/t"))
    val (second, jobs) = jobsDuring(Tables.parquet(spark, s"$dir/t"))
    assert(first >= 1, "the first read infers the schema with a footer job")
    assert(jobs == 0, s"second read of an unchanged path ran $jobs jobs")
    assert(rows(second) == Seq("[1,a]", "[2,b]"))
  }

  test("a file rewritten in place with a different schema reads the new schema") {
    import spark.implicits._
    val f = s"${Files.createTempDirectory("graft-pq")}/t.parquet"
    writeFile(Seq((1L, "a")).toDF("id", "s"), f)
    assert(Tables.parquet(spark, f).columns.toSeq == Seq("id", "s"))
    writeFile(Seq((7, 2.5, true)).toDF("k", "x", "flag"), f)
    val back = Tables.parquet(spark, f)
    assert(back.columns.toSeq == Seq("k", "x", "flag"))
    assert(rows(back) == Seq("[7,2.5,true]"))
  }

  test("flipping nanosAsLong changes the scanned type of events.ts") {
    // a TIMESTAMP(NANOS) events file, the encoding the legacy conf exists
    // for; Spark cannot write one, so it is written through parquet-mr
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val f = s"${Files.createTempDirectory("graft-pq")}/events.parquet"
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(f))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()

    val asLong = withConf(Tables.NanosConf, "true")(Tables.parquet(spark, f))
    assert(asLong.schema("ts").dataType == LongType)
    withConf(Tables.NanosConf, "false") {
      // the conf is part of the key: no LongType schema is served from the
      // first read, the scan re-infers under the flipped conf (Spark 4.1
      // rejects TIMESTAMP(NANOS) without it; either way the reader must
      // agree with a plain read)
      val flipped = scala.util.Try(Tables.parquetSchema(spark, f)("ts").dataType)
      val plain = scala.util.Try(spark.read.parquet(f).schema("ts").dataType)
      assert(!flipped.toOption.contains(LongType), s"stale nanos schema: $flipped")
      assert(flipped.toOption == plain.toOption)
    }
    // and back: the LongType schema is the one read under the restored conf
    assert(withConf(Tables.NanosConf, "true")(Tables.parquetSchema(spark, f))("ts")
      .dataType == LongType)
  }

  test("flipping inferTimestampNTZ changes the scanned type of the fixture events.ts") {
    val path = s"$sf/events.parquet"
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val ntz = withConf(key, "true")(Tables.parquetSchema(spark, path))("ts").dataType
    val ltz = withConf(key, "false")(Tables.parquetSchema(spark, path))("ts").dataType
    assert(ntz == TimestampNTZType)
    assert(ltz == TimestampType)
  }

  test("a self-join of two reads of documents still resolves") {
    val a = Tables.documents(spark, sf)
    val b = Tables.documents(spark, sf)
    val joined = a.join(b, a("doc_id") === b("doc_id")).select(a("doc_id"), b("lang"))
    assert(joined.count() == a.count())
  }

  test("every fixture table reads the same schema and rows as spark.read.parquet") {
    Tables.all.foreach { t =>
      val path = s"$sf/$t.parquet"
      val plain = spark.read.parquet(path)
      Seq(Tables.parquet(spark, path), Tables.parquet(spark, path)).foreach { df =>
        assert(df.schema == plain.schema, t)
        assert(rows(df) == rows(plain), t)
      }
    }
  }

  test("a multi-path log read equals the plain read and re-infers when an epoch is appended") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-pq").toString
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$root/v0")
    Seq((2L, "b")).toDF("id", "s").write.parquet(s"$root/v1")
    val two = Seq(s"$root/v0", s"$root/v1")
    assert(rows(Tables.parquet(spark, two: _*)) == rows(spark.read.parquet(two: _*)))
    Seq((3L, "c")).toDF("id", "s").write.mode("append").parquet(s"$root/v1")
    assert(rows(Tables.parquet(spark, two: _*)) == Seq("[1,a]", "[2,b]", "[3,c]"))
  }
}
