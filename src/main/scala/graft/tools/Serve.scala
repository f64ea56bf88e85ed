package graft.tools

import org.apache.spark.sql.SparkSession

import graft.api.HttpApi
import graft.exec.PromQLEngine
import graft.model.Samples
import graft.storage.Ingest

/** Runnable server: the Prometheus v1 API over a samples table.
  *
  * {{{
  *   runMain graft.tools.Serve /root/testdata/sf0.01 9090           # events fixture
  *   runMain graft.tools.Serve /path/to/ingested-table 9090 table   # Ingest layout
  *   runMain graft.tools.Serve /path/to/chunk-store 9090 chunks     # ChunkStore layout
  *   runMain graft.tools.Serve /root/testdata/sf0.01 9090 events 60000,3600000
  * }}}
  *
  * With the `table` mode the write endpoint appends back into the same
  * table, giving the full write → query round trip of the reference's
  * single-node acceptance setup (`acceptance_test.go:124-161`).
  *
  * A 4th argument (comma-separated bucket sizes, ms) materializes a
  * fold-partials RESOLUTION LADDER and binds it to the engine:
  * aligned dashboard queries then read the coarsest rung instead of
  * raw samples. In the read-only modes the rungs are built once at
  * startup into temp dirs (removed on shutdown); in the `table` mode
  * they live under the table (`<path>/_rollup_<ms>`) and are
  * incrementally refreshed on every write along with the series
  * index — the write→query deployment serves the same accelerated
  * plans as the read-only ones (see [[HttpApi.forTable]]).
  */
object Serve {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val port = if (args.length > 1) args(1).toInt else 9090
    val mode = if (args.length > 2) args(2) else "events"
    val rollups: Seq[Long] =
      if (args.length > 3) args(3).split(',').toSeq.map(_.trim.toLong)
      else Nil
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // FAIR + the per-query pools HttpApi.gatedBudget assigns: a
      // heavy range query shares task slots with concurrent instants
      // instead of monopolizing the FIFO head
      .config("spark.scheduler.mode", "FAIR")
      // Spark's static codegen cache holds 100 compiled classes by
      // default; one dashboard refresh needs ~121 (measured on the
      // perfbench dash_read refresh, SCALE.md §11), so a server at the
      // default evicts and recompiles byte-identical classes on every
      // refresh. 1000 holds eight such dashboards.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // materialize one parquet rollup per requested bucket size; the
    // engine picks the coarsest aligned rung per query
    def ladder(samples: org.apache.spark.sql.DataFrame)
        : Seq[(org.apache.spark.sql.DataFrame, Long)] =
      rollups.map { bkt =>
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft-serve-rollup-$bkt")
        // temp rungs die with the server — without this every restart
        // leaves a full partials table in /tmp (ADVICE r4). The walk
        // stream is closed (it holds directory handles) and a failed
        // delete is reported: silently leaving the rung behind is the
        // exact leak the hook exists to prevent.
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          try {
            import scala.jdk.CollectionConverters._
            val walk = java.nio.file.Files.walk(dir)
            try walk.iterator().asScala.toSeq.reverse
              .foreach(java.nio.file.Files.deleteIfExists(_))
            finally walk.close()
          } catch {
            case e: Throwable =>
              System.err.println(s"rollup rung cleanup failed for $dir: $e")
          }))
        val out = dir.toString
        Ingest.foldPartials(samples, bkt)
          .write.mode("overwrite").parquet(out)
        println(s"rollup rung $bkt ms materialized at $out")
        (spark.read.parquet(out), bkt)
      }
    def laddered(samples: org.apache.spark.sql.DataFrame): PromQLEngine =
      new PromQLEngine(spark, samples, partialsLadder = ladder(samples))
    val api = mode match {
      // writes append into the served table; the sink swaps in a
      // fresh-listing engine so queries see them (HttpApi.forTable).
      // SPARK_GRAFT_REFRESH_EVERY=k debounces the rollup rewrite to
      // once per k writes (raw-path fallback meanwhile; SCALE.md §6
      // "Debounced refresh") — for bursty writers
      case "table" =>
        HttpApi.forTable(spark, sfDir, port, rollups = rollups,
          refreshEveryWrites =
            sys.env.getOrElse("SPARK_GRAFT_REFRESH_EVERY", "1").toInt)
      // read-only API over a Gorilla/XOR chunk store (ChunkStore
      // layout): decode is lazy + pruned per query
      case "chunks" => new HttpApi(spark,
        laddered(graft.storage.ChunkStore.read(spark, sfDir)), None, port)
      case _ => new HttpApi(spark,
        laddered(Samples.fromEventsDir(spark, sfDir)), None, port)
    }
    api.start()
    println(s"listening on :${api.boundPort} (mode=$mode, data=$sfDir" +
      (if (rollups.nonEmpty) s", rungs=${rollups.mkString("+")}" else "") + ")")
    Thread.currentThread().join() // serve until killed
  }
}
