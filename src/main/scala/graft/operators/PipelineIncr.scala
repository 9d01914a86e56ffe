package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Exprs

/** THE INCREMENTAL FACE OF THE COMPOSED CURATION PIPELINE (VERDICT r14
  * #4): production curation is not a batch — an ARRIVAL BATCH (a crawl
  * snapshot) flows through gates → the dedup cascade AGAINST PERSISTED
  * STATE → SemDeDup against the persisted cluster assignments → a pack
  * APPEND, paying arrival-proportional work, while the already-shipped
  * base corpus is never re-read and never retroactively dropped.
  *
  * THE RECONCILIATION CONTRACT (the ev_incr_rollup / ev_late_backfill
  * discipline): `ingestArrivals(state, arrivals)` must equal the
  * ARRIVAL-ORDERED batch recompute on the union — the same stage cores
  * run once over base ∪ arrivals where every base doc is "earlier" than
  * every arrival ([[ordOf]]) and the semantic quantizer is FROZEN on the
  * base (the sim_ivf_incr discipline). That order is not a convenience:
  * an incremental system cannot un-ship base documents, so "keep the
  * earliest" must rank the persisted corpus first; under it the base
  * keep set is provably invariant (every anchor of a base doc is a base
  * doc), which is what makes the equality decomposable and the gate
  * meaningful. IncrPipelineSpec pins ingest ≡ recompute (and base
  * invariance) on testdata plus planted cross-boundary duplicates;
  * PipelineIncremental measures and re-checks the gate at bench scale.
  *
  * Scale shape: gates are per-arrival scans; stage-1/2 lookups join
  * arrival-sized key sets against persisted hash/url sets; the near-dup
  * stage hashes ONLY arrivals and bucket-joins them against the persisted
  * signature index (the dd_minhash_incr topology), re-shingling only the
  * candidate-matched base docs for the exact verify; SemDeDup assigns
  * only arrivals against the broadcast frozen centroids and compares them
  * to same-cell members. Nothing rescans the base corpus.
  */
object PipelineIncr {

  /** Arrival split: the repo-wide crawl-batch convention. */
  def isArrival(docId: Column): Column =
    docId % Dedup.IncrMod === Dedup.IncrRem

  /** Base docs precede every arrival; within a class, doc_id order.
    * A composite (arrival-flag, doc_id) struct — Spark orders structs
    * lexicographically by field, and min/over/comparison all accept them
    * — so the "base precedes every arrival" invariant holds for ANY
    * doc_id domain (ADVICE r15: the previous additive `doc_id + 2^40`
    * offset silently interleaved the classes for doc_id ≥ 2^40, and the
    * reconciliation gate would only catch it at runtime).
    */
  def ordOf(docId: Column): Column =
    struct(when(isArrival(docId), 1).otherwise(0).as("cls"), docId.as("id"))

  /** The four quality gates' survivor ids — per-doc work, the same cores
    * PipelineHeadline's stage 1 runs (gate semantics are stateless, so
    * the incremental face just runs them on the batch).
    */
  def gateSurvivors(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val gop = TextAnalysis.gopherFlags(s, docs)
      .filter($"keep").select("doc_id")
    val qual = TextAnalysis.qualityScores(s, docs)
      .filter($"quality" >= 0.5).select("doc_id")
    val bl = UrlCuration.blocklistMatches(s, docs)
      .filter(!$"blocked").select("doc_id")
    val lang = TextAnalysis.detectLang(s, docs)
      .filter($"lang_detected" === $"lang_declared").select("doc_id")
    docs.select("doc_id").join(gop, "doc_id").join(qual, "doc_id")
      .join(bl, "doc_id").join(lang, "doc_id")
  }

  /** The cascade's per-stage products under an explicit order key. */
  final case class CascadeOut(
      s1Surv: DataFrame, // (doc_id, content_hash, source, text, ord)
      s2Surv: DataFrame, // (doc_id, canon_url, text, ord)
      buckets: DataFrame, // (doc_id, band, sig) of s2 survivors
      keeps: DataFrame) // (doc_id)

  /** The 3-stage dedup cascade with anchors by min `ord` per group/pair.
    * With ord = identity this keep set is exactly
    * [[Dedup.cascadeAttribution]]'s (pinned by IncrPipelineSpec); with
    * [[ordOf]] it is the arrival-consistent recompute.
    */
  def cascadeStagesOrd(s: SparkSession, docs: DataFrame,
      ord: Column => Column): CascadeOut = {
    import s.implicits._
    val d = docs.select($"doc_id", $"source", $"text", ord($"doc_id").as("ord"))
    val s1 = d.withColumn("content_hash", Exprs.fingerprint($"text"))
      .withColumn("min_ord", min($"ord").over(Window.partitionBy($"content_hash")))
      .filter($"ord" === $"min_ord")
      .select($"doc_id", $"content_hash", $"source", $"text", $"ord")
    val s2 = s1.withColumn("canon_url",
        UrlCuration.canonUrl(UrlCuration.dirtyUrl($"source", $"doc_id")))
      .withColumn("min_ord", min($"ord").over(Window.partitionBy($"canon_url")))
      .filter($"ord" === $"min_ord")
      .select($"doc_id", $"canon_url", $"text", $"ord")
    val sh = Dedup.docShinglesOf(s, s2.select($"doc_id", $"text"), 3)
      .localCheckpoint(false)
    val buckets = Dedup
      .minhashBandBuckets(Dedup.minhashSignatures(sh, 32), 32, 8)
      .localCheckpoint(false)
    // ord is a function of doc_id, and every bucket row is an s2 doc's,
    // so the anchor order filters inside the band join
    val cands = Dedup.bandPairs(buckets, buckets, ord($"x.doc_id") < ord($"y.doc_id"))
    val near = Dedup.jaccardFor(cands, Dedup.hashedShingles(sh)).filter($"jaccard" >= 0.5)
      .select($"doc_b".as("doc_id")).distinct()
    val keeps = s2.select($"doc_id").join(near, Seq("doc_id"), "left_anti")
    CascadeOut(s1, s2, buckets, keeps)
  }

  /** Assignment of (vec_id, embedding) rows to a GIVEN frozen quantizer:
    * nearest per-label centroid (6-dp cosine, label tie-break — the
    * semAssigned arithmetic) plus the hyperplane sub at a GIVEN width.
    */
  def semAssignFrozen(s: SparkSession, emb: DataFrame, centroids: DataFrame,
      bits: Int): DataFrame = {
    import s.implicits._
    val e = emb
      .select($"vec_id", Exprs.vecAsDouble($"embedding").as("v"))
      .withColumn("nrm", Exprs.l2norm($"v"))
      .withColumn("sub", Similarity.semSubCol(s, bits))
    val w = Window.partitionBy($"vec_id").orderBy($"cos".desc, $"label".asc)
    e.crossJoin(broadcast(centroids))
      .select($"vec_id", $"v", $"nrm", $"sub", $"label",
        round(Exprs.dot($"v", $"c") / ($"nrm" * $"cnrm"), 6).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"vec_id", $"v", $"nrm", $"sub", $"label".as("cluster"))
  }

  /** Drop ids among `asg` (earlier-by-ord same-cell anchor at cos ≥ 0.3),
    * optionally also anchored by an already-persisted `baseAsg` (all of
    * whose members are earlier by construction of [[ordOf]]).
    */
  private def semDropsOf(asg: DataFrame,
      baseAsg: Option[DataFrame]): DataFrame = {
    def cellJoin(a: DataFrame, b: DataFrame, pred: Column): DataFrame =
      a.as("a").join(b.as("b"),
          col("a.cluster") === col("b.cluster") && col("a.sub") === col("b.sub") &&
            pred)
        .filter(round(Exprs.dot(col("a.v"), col("b.v"))
          / (col("a.nrm") * col("b.nrm")), 6) >= 0.3)
        .select(col("a.vec_id"))
    val within = cellJoin(asg, asg, ordOf(col("a.vec_id")) > ordOf(col("b.vec_id")))
    baseAsg.map(ba => within.union(cellJoin(asg, ba, lit(true))))
      .getOrElse(within).distinct()
  }

  /** Everything the ingest face needs from the previous full run. */
  final case class BaseState(
      s1Hashes: DataFrame, // (content_hash) of base stage-1 survivors
      s2Urls: DataFrame, // (canon_url) of base stage-2 survivors
      buckets: DataFrame, // (doc_id, band, sig) persisted signature index
      s2Docs: DataFrame, // (doc_id, text) base s2 survivors (verify side)
      centroids: DataFrame, // frozen per-label quantizer (label, c, cnrm)
      bits: Int, // frozen sub-split width
      semAssign: DataFrame, // (vec_id, v, nrm, sub, cluster) of base keeps
      keeps: DataFrame) // (doc_id) base final keeps

  /** One full batch run over the BASE corpus, materializing the state the
    * ingest face serves from — the previous day's pipeline run. Every
    * state frame is localCheckpointed: at scale these are the parquet
    * tables a production run writes anyway.
    */
  def buildBase(s: SparkSession, baseDocs: DataFrame,
      emb: DataFrame): BaseState = {
    import s.implicits._
    val gs = gateSurvivors(s, baseDocs).localCheckpoint()
    val c = cascadeStagesOrd(s, baseDocs.join(gs, "doc_id"), identity)
    val keeps3 = c.keeps.localCheckpoint()
    val embBase = emb.join(keeps3.select($"doc_id".as("vec_id")), "vec_id")
      .localCheckpoint()
    val bits = Similarity.semBits(embBase.count())
    val centroids = Similarity.centroidsOf(s, embBase).localCheckpoint()
    val asg = semAssignFrozen(s, embBase, centroids, bits).localCheckpoint()
    val drops = semDropsOf(asg, None).select($"vec_id".as("doc_id"))
    val keeps = keeps3.join(drops, Seq("doc_id"), "left_anti").localCheckpoint()
    BaseState(
      c.s1Surv.select($"content_hash").localCheckpoint(),
      c.s2Surv.select($"canon_url").localCheckpoint(),
      c.buckets,
      c.s2Surv.select($"doc_id", $"text").localCheckpoint(),
      centroids, bits, asg, keeps)
  }

  /** The ARRIVAL-PROPORTIONAL ingest: one batch through gates, the
    * cascade against persisted state, frozen-quantizer SemDeDup, keep
    * set out. Returns the arrival keep ids.
    */
  def ingestArrivals(s: SparkSession, state: BaseState,
      arrivals: DataFrame, emb: DataFrame): DataFrame = {
    import s.implicits._
    val ag = gateSurvivors(s, arrivals)
    val a = arrivals.join(ag, "doc_id").select($"doc_id", $"source", $"text")
    // stage 1: exact content hash vs persisted hashes, keep-first within
    // the batch (all base docs are earlier by ordOf, so a state hit drops
    // the arrival outright)
    val a1 = a.withColumn("content_hash", Exprs.fingerprint($"text"))
      .join(state.s1Hashes, Seq("content_hash"), "left_anti")
      .withColumn("min_id", min($"doc_id").over(Window.partitionBy($"content_hash")))
      .filter($"doc_id" === $"min_id")
      .select($"doc_id", $"source", $"text")
    // stage 2: canonical URL vs persisted urls + within-batch keep-first
    val a2 = a1.withColumn("canon_url",
        UrlCuration.canonUrl(UrlCuration.dirtyUrl($"source", $"doc_id")))
      .join(state.s2Urls, Seq("canon_url"), "left_anti")
      .withColumn("min_id", min($"doc_id").over(Window.partitionBy($"canon_url")))
      .filter($"doc_id" === $"min_id")
      .select($"doc_id", $"text")
    // stage 3: hash ONLY the batch; bucket-join against the persisted
    // index + within the batch; re-shingle only candidate-matched base
    // docs for the exact Jaccard verify
    val shA = Dedup.docShinglesOf(s, a2, 3).localCheckpoint(false)
    val bA = Dedup.minhashBandBuckets(Dedup.minhashSignatures(shA, 32), 32, 8)
      .localCheckpoint(false)
    val candBase = Dedup.bandPairs(state.buckets, bA)
    val candArr = Dedup.bandPairs(bA, bA, $"x.doc_id" < $"y.doc_id")
    val baseCandDocs = state.s2Docs
      .join(candBase.select($"doc_a".as("doc_id")).distinct(), "doc_id")
    val shAll = shA.union(Dedup.docShinglesOf(s, baseCandDocs, 3))
    val near = Dedup.jaccardFor(candBase.union(candArr), Dedup.hashedShingles(shAll))
      .filter($"jaccard" >= 0.5)
      .select($"doc_b".as("doc_id")).distinct()
    val a3 = a2.select($"doc_id").join(near, Seq("doc_id"), "left_anti")
    // semantic stage: assign the batch to the FROZEN quantizer, compare
    // to persisted same-cell members + earlier batch members
    val embA = emb.join(a3.select($"doc_id".as("vec_id")), "vec_id")
    val asgA = semAssignFrozen(s, embA, state.centroids, state.bits)
      .localCheckpoint(false)
    val drops = semDropsOf(asgA, Some(state.semAssign))
      .select($"vec_id".as("doc_id"))
    a3.join(drops, Seq("doc_id"), "left_anti")
  }

  /** THE ANN-SERVING FACE of the incremental pipeline (VERDICT r15 #6):
    * the curated corpus a production pipeline ships is SERVED through an
    * ANN index, so the index must ride the same incremental contract as
    * the keep set — base index built once on the base keeps' embeddings,
    * each arrival batch's keep embeddings INSERTED arrival-proportionally
    * ([[GraphAnn.insertIntoStoredIndex]]: forward links + touched-list
    * re-prunes + verbatim pass-through of untouched lists), never a
    * rebuild. PipelineIncremental equality-gates the inserted index
    * against the rebuild-from-union insert semantics
    * ([[GraphAnn.incrMergedEdges]] with this pipeline's [[isArrival]])
    * on BOTH the edge sets and the served top-k — the same
    * ingest ≡ recompute discipline the keep set rides.
    */
  def buildAnnIndex(s: SparkSession, emb: DataFrame, keeps: DataFrame,
      path: String): Unit = {
    import s.implicits._
    GraphAnn.writeHnswIndex(s,
      emb.join(keeps.select($"doc_id".as("vec_id")), "vec_id"), path)
  }

  /** Insert one arrival batch's keep embeddings into the stored index. */
  def ingestAnnArrivals(s: SparkSession, baseIdx: String, emb: DataFrame,
      arrKeeps: DataFrame, outPath: String): Unit = {
    import s.implicits._
    val arrEmb = emb.join(arrKeeps.select($"doc_id".as("vec_id")), "vec_id")
    GraphAnn.insertIntoStoredIndex(s, baseIdx,
      GraphAnn.hnswNodes(arrEmb).localCheckpoint(), outPath)
  }

  /** The ARRIVAL-ORDERED batch recompute on the union — the ingest's
    * equality reference. Same stage cores, ord = [[ordOf]], quantizer
    * frozen on the base portion's cascade survivors (which the order
    * makes invariant — see the object doc).
    */
  def recomputeUnion(s: SparkSession, docs: DataFrame,
      emb: DataFrame): DataFrame = {
    import s.implicits._
    val gs = gateSurvivors(s, docs).localCheckpoint()
    val c = cascadeStagesOrd(s, docs.join(gs, "doc_id"), ordOf)
    val keeps3 = c.keeps.localCheckpoint()
    val baseKeeps3 = keeps3.filter(!isArrival($"doc_id"))
    val embBase = emb.join(baseKeeps3.select($"doc_id".as("vec_id")), "vec_id")
      .localCheckpoint()
    val bits = Similarity.semBits(embBase.count())
    val centroids = Similarity.centroidsOf(s, embBase)
    val emb3 = emb.join(keeps3.select($"doc_id".as("vec_id")), "vec_id")
    val asg = semAssignFrozen(s, emb3, centroids, bits).localCheckpoint(false)
    val drops = semDropsOf(asg, None).select($"vec_id".as("doc_id"))
    keeps3.join(drops, Seq("doc_id"), "left_anti")
  }
}
