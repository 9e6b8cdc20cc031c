package perfbench

import graft.core._
import graft.operators.ReducerGraphs
import graft.sources.{CborBlock, CborChainGen, ChainGen}
import graft.streaming.{ChainIngest, Telemetry}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Seeded, hash-linked CBOR chain with CborChainGen's discipline (each
  * input spends an earlier output by its real BLAKE2b hash, each block
  * links its predecessor's real header digest, a nonce keeps tx bodies
  * distinct) but heavier blocks: 0..2*MeanTx transactions, uniform.
  */
object CborChain {
  val MeanTx = 8

  def generate(n: Int, seed: Long): IndexedSeq[(Array[Byte], Block)] = {
    val rnd = new scala.util.Random(seed)
    val live = mutable.ArrayBuffer[(String, Int)]()
    var prev = "00" * 32
    var height = 100L
    var slot = 1000L
    var nonce = 0L
    (0 until n).map { _ =>
      slot += 1 + rnd.nextInt(3)
      height += 1
      val txs = (0 until rnd.nextInt(2 * MeanTx + 1)).map { _ =>
        val spends = (0 until rnd.nextInt(3).min(live.size))
          .map(_ => live.remove(rnd.nextInt(live.size)))
        nonce += 1
        Tx("tmp", spends.map { case (h, i) => TxInput(h, i) },
          (0 to rnd.nextInt(2)).map(oi =>
            TxOutput(CborChainGen.Addresses(rnd.nextInt(CborChainGen.Addresses.size)),
              1000L + rnd.nextInt(9000) + (if (oi == 0) 10000L * nonce else 0L))))
      }
      val (bytes, real) = CborBlock.encode(
        Block("tmp", height, slot, txs, Era.Conway), prevHash = prev)
      prev = real.hash
      real.transactions.foreach(t => t.outputs.indices.foreach(i =>
        live += ((t.txHash, i))))
      (bytes, real)
    }
  }
}

/** Shared pieces of the two chain workloads. */
object ChainCommon {
  val MaxRollbackSlots = 300L

  def telemetry(rs: Seq[ChainReducer]): Telemetry =
    new Telemetry(rs.map(r => r.name -> r.dependsOn).toMap, bufferSize = 1 << 20)

  /** How many of `oracle`'s blocks have a watched-address snapshot that
    * differs from the oracle fold after that block, is missing, or is
    * duplicated.
    */
  def wrongBlocks(store: Store, oracle: Seq[(Long, Map[String, Long])]): Long = {
    val got = store.read("balance_snapshots", SnapshotSchema)
      .select(col("slot"), col("addressName"), col("balance")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
    val seen = got.groupBy(_._1).view.mapValues(_.length).toMap
    val m = got.toMap
    oracle.count { case (slot, bal) =>
      !bal.forall { case (name, b) =>
        m.get((slot, name)).contains(b) && seen.get((slot, name)).contains(1)
      }
    }.toLong
  }

  private val SnapshotSchema =
    new graft.operators.BalanceSnapshotReducer(CborChainGen.Watched).tables.head.schema

  def reducerLayers(t: Telemetry): Map[String, Double] =
    t.snapshot.map(p => s"reducer.${p.reducer}.write_s" -> p.meanBatchSec * p.batches).toMap

  def storeLayers(s: TimedStore, blocks: Long): Map[String, Double] = {
    val (files, bytes) = s.onDisk
    Map(
      "store.commits" -> s.commits.toDouble,
      "store.deferred_commits" -> s.deferred.toDouble,
      "store.commit_s" -> s.commitS,
      "store.rollback_s" -> s.rollbackS,
      "store.checkpoints_calls" -> s.checkpointCalls.toDouble,
      "store.read_calls" -> s.readCalls.toDouble,
      "store.files_on_disk" -> files.toDouble,
      "store.bytes_on_disk" -> bytes.toDouble,
      "store.bytes_per_block" -> bytes.toDouble / math.max(1L, blocks))
  }
}

/** Closed-loop catch-up: drain a backlog of `.cbor` block files through
  * ChainIngest (AvailableNow, 500 files per trigger) into GraphRunner and
  * the segment store, once per timed window.
  */
object ChainCatchup extends Workload {
  val name = "chain-catchup"
  val FilesPerTrigger = 500
  /** Blocks per second the backlog is sized by: a drain of
    * `seconds * NominalRate` blocks (whole triggers, at least one) takes
    * about `seconds` on 4 cores.
    */
  val NominalRate = 25
  val WarmBlocks = 100
  private var backlog = 0

  private var chain: IndexedSeq[(Array[Byte], Block)] = _
  private var oracle: Seq[(Long, Map[String, Long])] = _
  private var blocksDir: Path = _
  private var warmDir: Path = _
  private var drains = 0

  def setup(ctx: Ctx): Unit = {
    backlog = math.max(FilesPerTrigger,
      ctx.args.seconds * NominalRate / FilesPerTrigger * FilesPerTrigger)
    chain = CborChain.generate(backlog, ctx.args.seed)
    oracle = CborChainGen.balanceOracle(chain, CborChainGen.Watched)
    blocksDir = writeFiles(ctx, "cbor", chain)
    warmDir = writeFiles(ctx, "cbor-warm", chain.take(WarmBlocks))
    Warmup.run(ctx, name) { drain(ctx, warmDir, None).wall }
  }

  private def writeFiles(ctx: Ctx, sub: String,
      blocks: Seq[(Array[Byte], Block)]): Path = {
    val d = ctx.dir(sub)
    // file-source order is modification-time order: pin it to slot order
    val base = System.currentTimeMillis() - blocks.size * 1000L
    blocks.zipWithIndex.foreach { case ((bytes, b), i) =>
      val f = d.resolve(f"${b.slot}%012d.cbor")
      Files.write(f, bytes)
      f.toFile.setLastModified(base + i * 1000L)
    }
    d
  }

  final case class Drain(wall: Double, wrong: Long, batchS: Seq[Double],
      layers: Map[String, Double])

  /** One drain of `dir` into a fresh store and stream checkpoint, both
    * deleted afterwards; the store's per-layer figures are taken first.
    */
  private def drain(ctx: Ctx, dir: Path, oracle: Option[Seq[(Long, Map[String, Long])]])
      : Drain = {
    drains += 1
    val root = ctx.dir(s"store-$drains")
    val chk = ctx.dir(s"chk-$drains")
    val store = new TimedStore(new StateStore(root.toString, ctx.spark), ctx.tracer)
    val rs = ReducerGraphs.default(CborChainGen.Watched)
    val tel = ChainCommon.telemetry(rs)
    val runner = new GraphRunner(ctx.spark, store, rs, batchSize = FilesPerTrigger,
      maxRollbackSlots = ChainCommon.MaxRollbackSlots, telemetry = Some(tel))
    try {
      val t0 = System.nanoTime()
      val t0ms = System.currentTimeMillis()
      val q = ChainIngest.start(ctx.spark, dir.toString, chk.toString, runner,
        Trigger.AvailableNow(), Some(FilesPerTrigger), telemetry = Some(tel),
        wireFormat = Some("cbor"))
      q.awaitTermination()
      val dt = (System.nanoTime() - t0) / 1e9
      q.exception.foreach(e => throw e)
      org.apache.spark.BusDrain(ctx.spark.sparkContext)
      val prog = ctx.streams.of(q.id).filter(_.rows > 0)
      val wrong = oracle.map(o => ChainCommon.wrongBlocks(store, o)).getOrElse(0L)
      val startup = prog.headOption.map(p => (p.startMs - t0ms) / 1e3).getOrElse(dt)
      Drain(dt, wrong, prog.map(_.durMs.getOrElse("triggerExecution", 0L) / 1e3),
        layersOf(store, tel, prog, oracle.map(_.size).getOrElse(0)) +
          ("ingest.startup_s" -> startup))
    } finally {
      graft.queries.Scratch.deleteTree(root.toString)
      graft.queries.Scratch.deleteTree(chk.toString)
    }
  }

  def measure(ctx: Ctx, traced: Boolean): Outcome = {
    val d = ctx.scoped("pipeline.catchup-drain") { drain(ctx, blocksDir, Some(oracle)) }
    val batchTimes = d.batchS
    val (tailName, tail) = Stats.tail(batchTimes)
    val rate = backlog / d.wall
    val p50 = Stats.median(batchTimes)
    Outcome(backlog.toLong, d.wrong, rate, p50, tail,
      Seq(("catchup_blocks_per_s", rate, "1/s"),
        ("catchup_batch_p50_s", p50, "s"),
        (s"catchup_batch_${tailName}_s", tail, "s"),
        ("catchup_batches", batchTimes.size.toDouble, "count"),
        ("catchup_mean_tx_per_block",
          chain.map(_._2.transactions.size).sum.toDouble / chain.size, "count")),
      d.layers)
  }

  private def layersOf(store: TimedStore, tel: Telemetry,
      prog: Seq[StreamLog#Progress], blocks: Int): Map[String, Double] = {
    def sum(k: String) = prog.map(_.durMs.getOrElse(k, 0L)).sum / 1e3
    val trigger = sum("triggerExecution")
    val storeS = store.commitS + store.rollbackS
    val addBatch = sum("addBatch")
    val source = sum("latestOffset") + sum("getBatch")
    val wal = sum("walCommit") + sum("commitOffsets")
    Map(
      "ingest.batches" -> prog.size.toDouble,
      "ingest.latest_offset_s" -> sum("latestOffset"),
      "ingest.get_batch_s" -> sum("getBatch"),
      "ingest.add_batch_s" -> addBatch,
      "ingest.wal_commit_s" -> wal,
      "ingest.trigger_s" -> trigger,
      "ingest.other_s" -> (trigger - source - addBatch - wal),
      "ingest.input_rows" -> prog.map(_.rows).sum.toDouble,
      "sources.files_per_batch" -> prog.map(_.rows).sum.toDouble / math.max(1, prog.size),
      "runner.flushes" -> (store.commits + store.deferred).toDouble,
      "runner.flush_s" -> addBatch,
      "runner.materialize_s" -> (addBatch - storeS),
      "runner.rollbacks" -> store.rollbacks.toDouble) ++
      ChainCommon.storeLayers(store, blocks) ++ ChainCommon.reducerLayers(tel)
  }

  override def traceExtras(ctx: Ctx): Map[String, Double] = {
    // decode cost of the run's corpus, timed directly
    val t0 = System.nanoTime()
    val decoded = chain.count { case (bytes, _) => CborBlock.decode(bytes).isDefined }
    val decodeS = (System.nanoTime() - t0) / 1e9
    require(decoded == chain.size, s"${chain.size - decoded} blocks failed to decode")
    // single-threaded baseline: the warm-up input drained warm at
    // local[nproc], then in a fresh local[1] session
    val many = drain(ctx, warmDir, Some(oracle.take(WarmBlocks)))
    ctx.spark.stop()
    ctx.spark = Main.session(ctx, "local[1]")
    ctx.spark.streams.addListener(ctx.streams)
    val one = drain(ctx, warmDir, Some(oracle.take(WarmBlocks)))
    if (one.wrong + many.wrong > 0)
      throw new IllegalStateException(s"baseline drains: ${one.wrong + many.wrong} wrong blocks")
    Map("sources.decode_s" -> decodeS,
      "baseline.local1_blocks_per_s" -> WarmBlocks / one.wall,
      "baseline.speedup" -> one.wall / many.wall)
  }
}

/** Open-loop chain tip: light ChainGen blocks offered at a fixed rate
  * through GraphRunner.processEvents, with seeded Exclusive reorgs each
  * followed by a replay of the rolled-back branch.
  */
object ChainTip extends Workload {
  val name = "chain-tip"
  val RatePerS = 10.0
  val BatchSize = 100
  val MaxDelayMs = 200L
  val Reorgs = 1 // per timed window
  val MaxDepth = 5 // blocks; ~2 slots each, far inside MaxRollbackSlots
  val WarmBlocks = 30

  /** A scheduled event: offset from the start (ns) and the event.
    * `block`: index of a first-delivered block, else -1. `reorg`: index of
    * the reorg a rollback or replayed block belongs to, else -1.
    * `replayOf`: index of the block a replay re-delivers, else -1.
    */
  final case class Due(atNs: Long, ev: BlockEvent, block: Int, reorg: Int,
      replayOf: Int)

  private var blocks: IndexedSeq[Block] = _
  private var oracle: Seq[(Long, Map[String, Long])] = _
  private var warm: IndexedSeq[Due] = _

  def setup(ctx: Ctx): Unit = {
    val n = (RatePerS * ctx.args.seconds).toInt
    blocks = ChainGen.generate(n, ctx.args.seed).toIndexedSeq
    oracle = ChainGen.balanceOracle(blocks)
    val warmBlocks = ChainGen.generate(WarmBlocks, ctx.args.seed + 1, tag = "w").toIndexedSeq
    warm = schedule(warmBlocks, ctx.args.seed + 1, 0.0)
    Warmup.run(ctx, name) { runOnce(ctx, warmBlocks, warm, None).wall }
  }

  /** Offered schedule: block i due at i/rate, with `reorgs` reorgs spread
    * evenly over the chain (a seeded point would move the stall across
    * the few flush cycles of a run and swamp the latency median). A reorg
    * rolls back (Exclusive) to a seeded depth of 1..MaxDepth blocks, takes
    * the next tick, and its replayed branch is due with it.
    */
  def schedule(bs: IndexedSeq[Block], seed: Long, rate: Double,
      reorgs: Int = Reorgs): IndexedSeq[Due] = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    val at = (1 to reorgs).map(k => (bs.size * k / (reorgs + 1)).max(MaxDepth)).toSet
    val out = mutable.ArrayBuffer.empty[Due]
    val tickNs = if (rate <= 0) 0L else (1e9 / rate).toLong
    var tick = 0L
    var reorg = 0
    bs.indices.foreach { i =>
      out += Due(tick * tickNs, RollForward(bs(i)), i, -1, -1)
      tick += 1
      if (at(i)) {
        val depth = 1 + rnd.nextInt(MaxDepth)
        val keep = bs(i - depth)
        val due = tick * tickNs
        out += Due(due, RollBack(Point(keep.hash, keep.slot), Exclusive), -1, reorg, -1)
        (i - depth + 1 to i).foreach(j => out += Due(due, RollForward(bs(j)), -1, reorg, j))
        reorg += 1
        tick += 1
      }
    }
    out.toIndexedSeq
  }

  /** The offered feed: hands each event to the runner at its due time
    * (or at once when the runner is behind), and records the time the
    * runner spends between pulls.
    */
  final class Feed(sched: IndexedSeq[Due], startNs: Long) extends Iterator[BlockEvent] {
    var i = 0
    var lastReturn = -1L
    var gapNs = 0L
    var lagMaxNs = 0L
    var backlogMax = 0
    def hasNext: Boolean = i < sched.size
    def next(): BlockEvent = {
      val now = System.nanoTime()
      if (lastReturn >= 0) gapNs += now - lastReturn
      val due = startNs + sched(i).atNs
      if (due > now) {
        val ms = (due - now) / 1000000L
        Thread.sleep(ms, ((due - now) % 1000000L).toInt)
      } else {
        lagMaxNs = math.max(lagMaxNs, now - due)
        var k = i; while (k < sched.size && startNs + sched(k).atNs <= now) k += 1
        backlogMax = math.max(backlogMax, k - i)
      }
      val e = sched(i).ev
      i += 1
      lastReturn = System.nanoTime()
      e
    }
    def finish(): Unit = if (lastReturn >= 0) gapNs += System.nanoTime() - lastReturn
  }

  final case class TipRun(wall: Double, latencies: Seq[Double], recoveries: Seq[Double],
      wrong: Long, committed: Long, store: TimedStore, tel: Telemetry, feed: Feed,
      storeLayers: Map[String, Double])

  private var runs = 0

  def runOnce(ctx: Ctx, bs: IndexedSeq[Block], sched: IndexedSeq[Due],
      check: Option[Seq[(Long, Map[String, Long])]]): TipRun = {
    runs += 1
    val root = ctx.dir(s"tip-store-$runs")
    val store = new TimedStore(new StateStore(root.toString, ctx.spark), ctx.tracer)
    val rs = ReducerGraphs.default(ChainGen.Watched)
    val tel = ChainCommon.telemetry(rs)
    val runner = new GraphRunner(ctx.spark, store, rs, batchSize = BatchSize,
      maxRollbackSlots = ChainCommon.MaxRollbackSlots, telemetry = Some(tel),
      maxDelayMs = MaxDelayMs)
    val startNs = System.nanoTime() + 20000000L
    val feed = new Feed(sched, startNs)
    val lat = mutable.ArrayBuffer.empty[Double]
    val rec = mutable.ArrayBuffer.empty[Double]
    var settled = 0 // sched index below which every event is persisted
    var committed = 0L
    store.onCommitted = t => {
      val upTo = feed.i
      (settled until upTo).foreach { k =>
        val d = sched(k)
        val late = (t - (startNs + d.atNs)) / 1e9
        if (d.block >= 0) { lat += late; committed += 1 }
        // the reorg is recovered when the replayed branch tip persists
        if (d.replayOf >= 0 && (k + 1 == sched.size || sched(k + 1).reorg != d.reorg))
          rec += late
      }
      settled = upTo
    }
    try {
      val t0 = System.nanoTime()
      try ctx.scoped("pipeline.tip-feed") { runner.processEvents(feed) }
      finally feed.finish()
      val wall = (System.nanoTime() - t0) / 1e9
      val wrong = check.map(o => ChainCommon.wrongBlocks(store, o)).getOrElse(0L)
      val sl = ChainCommon.storeLayers(store, bs.size)
      TipRun(wall, lat.toSeq, rec.toSeq, wrong, committed, store, tel, feed, sl)
    } finally graft.queries.Scratch.deleteTree(root.toString)
  }

  def measure(ctx: Ctx, traced: Boolean): Outcome = {
    val sched = schedule(blocks, ctx.args.seed, RatePerS)
    val r = runOnce(ctx, blocks, sched, Some(oracle))
    val reorgs = sched.count(_.ev.isInstanceOf[RollBack])
    val (tailName, tail) = Stats.tail(r.latencies)
    val p50 = Stats.median(r.latencies)
    val rateDone = r.committed / r.wall
    val flushS = r.feed.gapNs / 1e9
    val storeS = r.store.commitS + r.store.rollbackS
    Outcome(blocks.size.toLong + reorgs,
      r.wrong + (blocks.size - r.committed) + (reorgs - r.recoveries.size),
      rateDone, p50, tail,
      Seq(("tip_latency_p50_s", p50, "s"),
        (s"tip_latency_${tailName}_s", tail, "s"),
        ("tip_latency_samples", r.latencies.size.toDouble, "count"),
        ("reorg_recovery_p50_s",
          if (r.recoveries.isEmpty) Double.NaN else Stats.median(r.recoveries), "s"),
        ("reorg_count", r.recoveries.size.toDouble, "count"),
        ("tip_offered_per_s", RatePerS, "1/s")),
      r.storeLayers ++ ChainCommon.reducerLayers(r.tel) ++ Map(
        "runner.flushes" -> (r.store.commits + r.store.deferred).toDouble,
        "runner.flush_s" -> flushS,
        "runner.materialize_s" -> (flushS - storeS),
        "runner.rollbacks" -> r.store.rollbacks.toDouble,
        "tip.generator_lag_s" -> r.feed.lagMaxNs / 1e9,
        "tip.backlog_max" -> r.feed.backlogMax.toDouble))
  }
}

/** Warm-up: a fixed number of passes over a small input before the timed
  * window. The first (cold) pass costs 2-3x a warm one; on a 4-core host
  * the second execution runs within about 10-15% of the plateau the
  * sizing pass found after five, and a run has no budget for more. A
  * fixed count keeps every run at the same point of the JIT/codegen
  * warm-up curve.
  */
object Warmup {
  val Passes = 1
  def run(ctx: Ctx, name: String)(pass: => Double): Seq[Double] = {
    val ts = (1 to Passes).map { _ =>
      val t = ctx.tracer.span(s"warmup.$name") { pass }
      graft.Harness.settle(ctx.spark)
      t
    }
    System.err.println(s"[perfbench] $name warm-up passes: " +
      ts.map(t => f"$t%.3f").mkString(", "))
    ts
  }
}
