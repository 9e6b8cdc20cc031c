package graft.core

import org.apache.spark.sql.SparkSession

/** Opt-in phase timing (`graft.engine.timing=true`): wall time of one
  * phase to stderr as `<label> <seconds>s`. The one timer behind the
  * engine's per-commit phases, q73's training phases and the suffix
  * dedup's token pass — observability for perf attribution (QueryProf,
  * ChainPerf, SfxProf switch it on); off by default, one conf lookup
  * when disabled.
  */
object Phase {
  def timed[A](spark: SparkSession, label: String)(f: => A): A =
    if (!spark.conf.getOption("graft.engine.timing").exists(_.toBoolean)) f
    else {
      val t0 = System.nanoTime()
      try f
      finally System.err.println(
        f"$label ${(System.nanoTime() - t0) / 1e9}%.3fs")
    }
}
