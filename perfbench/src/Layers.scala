package perfbench

/** The per-layer metrics a traced run prints, with units. A layer a
  * workload does not use (ChainIngest on chain-tip, rollbacks on
  * chain-catchup) reports 0.
  */
object Layers {
  private val sparkFields: Seq[(String, String)] = Seq(
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "executor_run_s" -> "s", "executor_cpu_s" -> "s", "gc_s" -> "s",
    "input_bytes" -> "bytes", "output_bytes" -> "bytes",
    "shuffle_read_bytes" -> "bytes", "shuffle_write_bytes" -> "bytes",
    "shuffle_fetch_wait_s" -> "s", "spill_bytes" -> "bytes",
    "driver_gap_s" -> "s", "busy_frac" -> "frac")

  private def spark(prefix: String) =
    sparkFields.map { case (k, u) => s"$prefix.$k" -> u }

  private val host: Seq[(String, String)] = Seq(
    "host.calib_s" -> "s", "host.sched_s_per_job" -> "s",
    "trace.overhead_frac" -> "frac")

  val Names: Seq[(String, String)] = Seq(
    "ingest.batches" -> "count", "ingest.startup_s" -> "s",
    "ingest.latest_offset_s" -> "s", "ingest.get_batch_s" -> "s",
    "ingest.add_batch_s" -> "s", "ingest.wal_commit_s" -> "s",
    "ingest.trigger_s" -> "s", "ingest.other_s" -> "s",
    "ingest.input_rows" -> "count",
    "sources.decode_s" -> "s", "sources.files_per_batch" -> "count",
    "runner.flushes" -> "count", "runner.flush_s" -> "s",
    "runner.materialize_s" -> "s", "runner.rollbacks" -> "count",
    "store.commits" -> "count", "store.deferred_commits" -> "count",
    "store.commit_s" -> "s", "store.rollback_s" -> "s",
    "store.checkpoints_calls" -> "count", "store.read_calls" -> "count",
    "store.files_on_disk" -> "count", "store.bytes_on_disk" -> "bytes",
    "store.bytes_per_block" -> "bytes",
    "reducer.block_summary.write_s" -> "s", "reducer.tx_index.write_s" -> "s",
    "reducer.wallet_utxo.write_s" -> "s",
    "reducer.balance_by_address.write_s" -> "s",
    "tip.generator_lag_s" -> "s", "tip.backlog_max" -> "count",
    "baseline.local1_blocks_per_s" -> "1/s", "baseline.speedup" -> "ratio") ++
    spark("spark") ++ host
}
