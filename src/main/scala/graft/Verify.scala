package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Local-iteration filter: GRAFT_ONLY=name1,name2 restricts the dump
    // (unset for a full contract run). Names are resolved before the
    // session starts: a typo fails the run instead of dumping nothing that
    // check_oracle.py would then read as clean.
    val only = sys.env.get("GRAFT_ONLY")
      .map(v => SparkEntry.resolve(v.split(",").toSeq).map(_._1).toSet)
    val spark = Session.create(Session.cores)
    new java.io.File(outDir).mkdirs()
    // Failures land in _verify_errors.json beside the dumps (r8 lesson:
    // stderr-only failures made the correctness file silently SHRINK — a
    // missing query was indistinguishable from a never-declared one).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) =
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ").take(300)}"
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Rows-only → hash-gated twin pairing, dumped unfiltered so the
    // driver/judge can verify every `no_oracle` row mechanically
    // (SparkEntrySpec enforces the pairing invariants in the suite).
    val twinsJson = SparkEntry.rowsOnlyTwins.toSeq.sorted
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/rows_only_twins.json"), twinsJson)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_verify_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
