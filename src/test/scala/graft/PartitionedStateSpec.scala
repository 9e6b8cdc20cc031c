package graft

import graft.queries.{Dedup, PartitionedState, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The shared lifecycle's empty store: `live` over a root with no
  * promoted batch is an empty state in the family's shape, and the
  * family's probe over it reports nothing — one behaviour for all five
  * families. After one promote, `live` reads back the same shape, so
  * the declared relation DDL is pinned against what the build writes.
  */
class PartitionedStateSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** One family: its state at a root, a sample batch to promote, and
    * its probe's HITS over a live state (rows that claim a match). */
  private case class Row(name: String, family: String => PartitionedState.Family,
      batch: () => DataFrame,
      hits: (SparkSession, String, PartitionedState) => DataFrame)

  private def docs = Tables.documents(spark, sf)
    .select(col("doc_id").cast("long").as("doc_id"), col("source"), col("text"))
    .where(col("doc_id") % 7 === 0)

  private lazy val sem = Similarity.semIndexInputs(spark, sf)
  private def chrome = {
    val sp = spark
    import sp.implicits._
    Seq(("src0", "0" * 32)).toDF("source", "lmd5")
  }

  private def rows = Seq(
    Row("lexical", _ => Dedup.lexFamily,
      () => docs.select(col("doc_id"), col("text")),
      (_, _, live) => Dedup.probeLex(Dedup.collapseLex(live), docs)
        .where(!col("is_new"))),
    Row("semantic", _ => Similarity.semFamily(sem._2), () => sem._1,
      (_, _, live) => Similarity.probeSem(
        Similarity.collapseSem(sem._2, live), sem._1).where(!col("novel"))),
    Row("census", _ => TextAnalysis.censusFamily, () => docs,
      (_, _, live) => TextAnalysis.collapsedCensus(live)),
    Row("containment", _ => Dedup.containFamily,
      () => docs.select(col("doc_id"), col("text")),
      (_, _, live) => Dedup.probeFromG(Dedup.collapseContain(live),
        Dedup.gramIds(docs), "tpsc")),
    Row("line containment", _ => TextAnalysis.lineContainFamily(chrome),
      () => docs,
      (_, _, live) => TextAnalysis.probeFromG(Dedup.collapseContain(live),
        TextAnalysis.lineGramIds(TextAnalysis.pageDocs(docs), chrome), "tpslc")),
    Row("line re-freeze", TextAnalysis.lineRefreezeFamily, () => docs,
      (sp, root, _) => TextAnalysis.probeLineStore(sp, root, docs)))

  private def shape(st: PartitionedState) =
    st.rels.map { case (n, df) => n -> df.schema.map(f => (f.name, f.dataType)) }

  for (r <- rows) test(s"${r.name}: live over an empty root is empty in the family's shape and probes to nothing") {
    val root = tmpDir("pstate-empty") + "/store"
    val fam = r.family(root)
    val empty = PartitionedState.live(spark, root, fam)
    assert(empty.rels.map(_._1) == fam.relations.map(_._1))
    empty.rels.foreach { case (n, df) =>
      assert(df.isEmpty, s"relation $n of an empty store has rows")
    }
    assert(r.hits(spark, root, empty).isEmpty,
      "probe over an empty store reported hits")
    PartitionedState.promote(root, fam, r.batch(), 0L)
    val promoted = PartitionedState.live(spark, root, fam)
    assert(shape(promoted) == shape(empty),
      "declared relation shape differs from what the build writes")
    assert(promoted.rels.exists(!_._2.isEmpty), "promote wrote no rows")
  }
}
