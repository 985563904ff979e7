package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated allowlist for focused local iteration; the
    // driver never sets it, so the contract path always dumps everything
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // shared JSON escaping (graft.Jsons): a tab or CR in builder-authored
    // SQL would otherwise make the driver's json.load fail and silently
    // zero the round's correctness
    def q(s: String): String = Jsons.quote(s)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // staged decompositions of the temp-disk-bound sf1 differentials —
    // read by tools/compare.py under GRAFT_STAGED_ORACLE=1; the driver's
    // sf0.01 gate keeps using oracle_sql.json untouched
    Files.writeString(Paths.get(s"$outDir/oracle_stage_sql.json"),
      StagedOracles.json)
    // release the dedup-tier persisted tables (shingle index, MinHash
    // signatures) — the long-lived-session analog of dropping a pipeline
    // stage's intermediate tables when the stage ends
    spark.catalog.clearCache()
    spark.stop()
  }
}
