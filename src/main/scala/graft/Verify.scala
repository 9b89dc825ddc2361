package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (builder-side
    // iteration on a subset; the driver always passes exactly two)
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, c) => (a, b, Some(c.split(",").toSet))
    }
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    val gates = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // cleanup releases the blocks operators staged for each query so
    // the full dump doesn't accumulate session-lifetime caches
    val failed = Bench.runPass(spark, sfDir, gates,
      cleanup = graft.core.Caches.releaseAll) { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }.failed
    // a tab or CR in builder-authored SQL must not make the driver's
    // json.load fail and silently zero the round's correctness
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // a gate that threw has no output dir, and the oracle check only
    // compares the dirs that exist: fail here so it cannot go unseen
    if (failed.nonEmpty) {
      failed.toSeq.sortBy(_._1).foreach { case (name, err) =>
        System.err.println(s"[verify] $name failed: $err") }
      System.err.println(s"[verify] ${failed.size} gate(s) failed: " +
        failed.keys.toSeq.sorted.mkString(","))
      sys.exit(1)
    }
  }
}
