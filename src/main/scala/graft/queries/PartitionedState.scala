package graft.queries

import graft.core.Overlap
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The ONE state lifecycle of the five curation index families —
  * lexical (q100/q102), semantic (q101/q103), census (q115/q116),
  * containment (q128/q129) and line containment with re-freeze
  * (q131–q134) — spelled once for the batch entries and their streaming
  * twins alike.
  *
  * State is a set of named relations, each carrying the `batch_id` of
  * the promote that produced its rows. Every family's algebra defers
  * its collapse (min, append, SUM, COUNT) to probe time, so promote is
  * a pure APPEND of the batch's partials and demote is the exact
  * inverse — drop precisely the rows that batch appended, and the
  * collapse over the survivors IS the index over the surviving
  * documents. (The reference rolls reducer state back by replaying
  * inverse deltas, `ReducerGraphProcessor.cs:176-209`; here provenance
  * makes the inverse a filter.) The same algebra has two physical
  * forms:
  *
  *  - an in-memory VALUE (this class): [[PartitionedState.tag]] builds
  *    a batch's partials, [[union]] promotes, [[retract]] demotes, and
  *    [[stored]] lands the value batch_id-partitioned in scratch — the
  *    batch entries' form, where the retraction filter is partition
  *    PRUNING over the stored relations;
  *  - a ROOT directory, `<root>/<relation>/batch_id=<id>`: `promote`
  *    overwrites the batch's partition per relation, `live` is the
  *    filter-free read, `demote` drops the partition directories, and
  *    `refreeze` stages `<relation>.next` for every rewritten relation
  *    before any swap — the streaming twins' form. Structured Streaming
  *    replays a failed micro-batch under the SAME batch id, so the
  *    partition overwrite absorbs redelivery (the idempotent-sink idiom,
  *    exactly-once for same-batch replay).
  *
  * Per-family facts stay with the family: its build and collapse/probe,
  * its exactly-once note (a document promoted under TWO batch ids is
  * absorbed by the lexical min-merge but double-counted by the SUM and
  * append algebras, so those need the `gated` promote), and any frozen
  * input (the semantic quantizer, the published chrome).
  */
final case class PartitionedState(rels: Seq[(String, DataFrame)]) {
  import PartitionedState.BatchCol

  def apply(name: String): DataFrame =
    rels.collectFirst { case (n, df) if n == name => df }.getOrElse(
      throw new NoSuchElementException(
        s"no relation $name among ${rels.map(_._1).mkString(", ")}"))

  private def mapRels(f: DataFrame => DataFrame): PartitionedState =
    PartitionedState(rels.map { case (n, df) => n -> f(df) })

  /** The in-memory promote: append `o`'s partials, relation by relation
    * — no re-aggregation. */
  def union(o: PartitionedState): PartitionedState =
    PartitionedState(rels.map { case (n, df) => n -> df.unionByName(o(n)) })

  /** The in-memory demote of one promoted batch (a never-promoted id is
    * a no-op). */
  def retract(batchId: Long): PartitionedState =
    mapRels(_.filter(col(BatchCol) =!= batchId))

  /** The named relations alone, in the given order. */
  def select(names: String*): PartitionedState =
    PartitionedState(names.map(n => n -> apply(n)))

  /** Store every relation batch_id-partitioned as `<prefix>_<name>`
    * ([[Scratch.materializePartitioned]], so both scratch postures
    * apply); the independent writes overlap. */
  def stored(prefix: String): PartitionedState =
    PartitionedState(rels.map(_._1).zip(Overlap.all(rels.map {
      case (n, df) => () =>
        Scratch.materializePartitioned(df, s"${prefix}_$n", BatchCol)
    })))
}

object PartitionedState {
  private val BatchCol = "batch_id"

  /** One index family: its relations (name → column DDL without
    * batch_id, the shape `live` returns for a store with nothing
    * promoted) and its per-batch build. The build returns the batch's
    * tagged partials plus a release handle for any scan it
    * materialized. (A batch entry's ONE tagged scan over several
    * batches tags rows per doc_id instead and goes through the
    * family's state function directly — batch membership is a pure
    * function of doc_id, so that scan IS the union of the per-batch
    * partials.) */
  final class Family(val relations: Seq[(String, String)],
      val build: (DataFrame, Long) => (PartitionedState, () => Unit)) {
    /** One batch's partials as a value; its scratch is left to the
      * harness sweep. */
    def apply(batch: DataFrame, batchId: Long): PartitionedState =
      build(batch, batchId)._1
  }

  /** A family whose build materializes nothing: the batch's untagged
    * relations, tagged here. */
  def family(relations: (String, String)*)(
      build: DataFrame => Seq[(String, DataFrame)]): Family =
    new Family(relations, (b, id) => (tag(build(b), id), () => ()))

  /** Tag every relation with its batch id. */
  def tag(rels: Seq[(String, DataFrame)], batchId: Long): PartitionedState =
    PartitionedState(rels.map { case (n, df) =>
      n -> df.withColumn(BatchCol, lit(batchId)) })

  private def partition(root: String, name: String, batchId: Long) =
    s"$root/$name/$BatchCol=$batchId"

  /** PROMOTE one batch into the store at `root`: build its partials and
    * overwrite its partition of every relation (the writes overlap;
    * the build's scratch is released once they land, so per-batch
    * scratch stays bounded on an unbounded stream). Also the bootstrap:
    * seed a frozen corpus under a negative batch id. */
  def promote(root: String, family: Family, batch: DataFrame,
      batchId: Long): Unit = {
    val (state, release) = family.build(batch, batchId)
    try {
      Overlap.all(state.rels.map { case (n, df) => () =>
        df.drop(BatchCol).write.mode("overwrite")
          .parquet(partition(root, n, batchId))
      })
      ()
    } finally release()
  }

  /** The streaming promote: every micro-batch of `stream` lands as one
    * promoted batch under its stable id. `gated` puts the EXACTLY-ONCE
    * document gate in front: `dropDuplicates("doc_id")` holds every
    * promoted id in keyed streaming state, so a document redelivered in
    * a LATER micro-batch (a fresh batch id — the case the partition
    * overwrite cannot catch) never promotes twice. That also keeps
    * demote TOTAL: every document lives in exactly one partition. The
    * state is one long per document, unbounded by design (a promoted id
    * must never re-promote, so no watermark may expire it) — the
    * 100 TB configuration runs it on the RocksDB state provider
    * (RocksDbStateSpec). Caller starts/stops the query. */
  def promote(stream: DataFrame, root: String, family: Family,
      gated: Boolean): StreamingQuery =
    (if (gated) stream.dropDuplicates("doc_id") else stream).writeStream
      .foreachBatch { (df: Dataset[Row], id: Long) =>
        promote(root, family, df, id)
      }
      .start()

  /** The LIVE state: a filter-free, partition-discovered read of every
    * relation, batch_id cast back to long (partition inference narrows
    * it to int). A relation with no promoted rows reads as empty in the
    * family's shape — Spark writes no part files for an empty
    * partitioned relation, so schema inference has nothing to read. */
  def live(spark: SparkSession, root: String, family: Family)
      : PartitionedState =
    PartitionedState(family.relations.map { case (n, ddl) =>
      val dir = new java.io.File(s"$root/$n")
      val hasFiles = Option(dir.listFiles).exists(_.exists(sub =>
        Option(sub.listFiles).exists(_.exists(_.getName.endsWith(".parquet")))))
      n -> (if (hasFiles) spark.read.parquet(dir.toString)
          .withColumn(BatchCol, col(BatchCol).cast("long"))
        else spark.createDataFrame(new java.util.ArrayList[Row](),
          StructType.fromDDL(s"$ddl, $BatchCol BIGINT")))
    })

  /** DEMOTE one promoted batch: drop its partition directory in every
    * relation — no read of surviving state, no rebuild. */
  def demote(root: String, family: Family, batchId: Long): Unit =
    family.relations.foreach { case (n, _) =>
      Scratch.deleteTree(partition(root, n, batchId))
    }

  /** RE-FREEZE: replace whole relations of the store at `root` with
    * `next` (batch_id-partitioned when the relation carries batch_id,
    * else an epoch relation overwritten whole). Write-aside: every
    * `<relation>.next` is staged before ANY swap — Spark refuses to
    * overwrite a path it is also reading, and a rewrite may read every
    * old relation. The staged writes only read old state and overlap.
    * Not concurrent with a promote: stop or idle the stream first. */
  def refreeze(root: String, next: Seq[(String, DataFrame)]): Unit = {
    Overlap.all(next.map { case (n, df) => () =>
      val staged = s"$root/$n.next"
      Scratch.deleteTree(staged)
      val w = df.write.mode("overwrite")
      (if (df.columns.contains(BatchCol)) w.partitionBy(BatchCol) else w)
        .parquet(staged)
    })
    next.foreach { case (n, _) =>
      Scratch.deleteTree(s"$root/$n")
      Files.move(Paths.get(s"$root/$n.next"), Paths.get(s"$root/$n"))
    }
  }
}
