package graft.perfbench

/** Entry point of the benchmark JVM; `run.py` starts it as
  * `Main <serve|trace> <workload> <seed> <seconds> <runDir> <nproc>`. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(mode, workload, seed, seconds, runDir, nproc) = args
    (mode, workload) match {
      case ("serve", "dash_read" | "ingest_mixed") =>
        Serving.serve(workload, seed.toLong, seconds.toDouble, runDir, nproc.toInt)
      case ("trace", "dash_read" | "ingest_mixed") =>
        Serving.trace(workload, seed.toLong, seconds.toDouble, runDir, nproc.toInt)
      case (_, "llm_batch") =>
        LlmBatch.run(seed.toLong, seconds.toDouble, runDir, nproc.toInt,
          traced = mode == "trace")
      case _ => throw new IllegalArgumentException(s"unknown run: ${args.mkString(" ")}")
    }
  }
}
