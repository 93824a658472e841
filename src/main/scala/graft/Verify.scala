package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // serialize with any other heavyweight graft JVM (VERDICT r9 item 6)
    graft.tools.RunLock.acquire("verify")
    val Array(sfDir, outDir) = args
    // Build-identity stamp (VERDICT r10 item 1): capture the classes-tree
    // fingerprint up front, re-check it around every entry, abort (exit 3,
    // dump deleted) if a compile swaps bytecode under this JVM mid-run —
    // the r10 stale-class race that red-flagged two correct entries.
    val fp0 = graft.tools.BuildFingerprint.compute()
    def fpCheck(): Unit = graft.tools.BuildFingerprint.check(fp0, "verify") {
      try {
        import scala.jdk.CollectionConverters._
        val root = Paths.get(outDir)
        if (Files.exists(root))
          Files.walk(root).sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(Files.deleteIfExists(_))
      } catch { case _: Exception => () }
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (driver leaves it unset → full gate): comma-
    // separated exact names in SPARK_GRAFT_ONLY limits which entries run;
    // tools/check.py then checks just the dumped entries.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).filter(_.nonEmpty)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      fpCheck()
      try {
        // repartition(1), NOT coalesce(1): coalesce merges into the final
        // stage and would run each entry's last-stage work (joins,
        // verifies) single-threaded; the explicit exchange keeps upstream
        // parallelism and still emits one file per entry
        fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok (${(System.nanoTime() - t0) / 1e9}%.1fs)")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Pair-value-verification oracles (sim_ann_lsh, dedup_minhash, …)
    // read the entry's own output pairs back via read_parquet and recompute
    // the value columns from the base tables; `__OUT__` resolves to this
    // run's dump directory (absolute, so the DuckDB run's cwd is irrelevant).
    // Rendered by the Singer wire writer, which escapes every control
    // char in the oracle SQL, so a json.load of the file holds.
    val outAbs = Paths.get(outDir).toAbsolutePath.toString
    val json = graft.sinks.SingerSink.render(
      SparkEntry.oracleSql.foldLeft(graft.sinks.SingerSink.obj()) {
        case (o, (k, v)) => o.put(k, v.replace("__OUT__", outAbs))
      })
    // final drift check BEFORE the oracle dump: a fingerprint that moved
    // invalidates every row above, so abort rather than seal the dump
    fpCheck()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // stamp the dump with the build identity the whole run verified against
    Files.writeString(Paths.get(s"$outDir/build_fingerprint.json"), fp0.json)
    System.err.println(s"[verify] build fingerprint: ${fp0.render}")
    spark.stop()
  }
}
