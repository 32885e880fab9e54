package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Functions, VecCentroid}
import graft.operators.Ann
import graft.sources.Tables

/** Vector/similarity queries over `embeddings` (SURVEY §2 X2/A6). */
object VectorQueries {
  type Q = (SparkSession, String) => DataFrame

  /** A persisted index store, keyed by sf dir name + a fingerprint of
    * the embeddings file (length ⊕ mtime). If the testdata is ever
    * regenerated in place, the fingerprint changes and the stale index
    * is abandoned instead of silently serving oracle-gated queries. */
  private def indexStore(s: SparkSession, dir: String, key: String) =
    new graft.operators.TableStore(
      s"${Tables.TmpRoot}/$key/${Tables.fileKey(s, dir, "embeddings.parquet")}")

  // The persisted stores the specs open too, so a key bump reaches both.
  private[graft] def ivfScalStore(s: SparkSession, dir: String) = indexStore(s, dir, "ivf-scal/v2")
  private[graft] def ivfFoldStore(s: SparkSession, dir: String) = indexStore(s, dir, "ivf-fold/v2")
  private[graft] def ivfDeleteStore(s: SparkSession, dir: String) = indexStore(s, dir, "ivf-delete/v1")
  private[graft] def mipsStore(s: SparkSession, dir: String) = indexStore(s, dir, "mips-index/v1")
  private[graft] def pqStore(s: SparkSession, dir: String, k: Int) = indexStore(s, dir, s"pq-model/v1-k$k")
  private[graft] def sqStore(s: SparkSession, dir: String) = indexStore(s, dir, "sq-codes/v1")

  val all: Map[String, Q] = Map(
    // ---- X2 scale path: LSH-bucketed ANN top-k ----------------------
    // Same output contract as the brute-force x2_topk_cosine; with the
    // chosen (tables, bits) the candidate set provably contains the
    // true top-10 on this data, so it shares the exact oracle while
    // doing bucket-collision work only. Build-once / probe-many: the
    // bucket index persists per sf dir and a warm probe is one
    // broadcast bucket lookup + re-rank; the probe reads the build's
    // (tables, bits, dim, seed) from the index meta table — no probe
    // job to infer dim, and corpus-derived bits can't be guessed.
    "x2_ann_topk" -> ((s, dir) => {
      Functions.register(s)
      val emb = Tables.embeddings(s, dir)
      // v3 path segment = index FORMAT version (v3: params meta table,
      // corpus-derived bits; v2 sorted (t,b) layout): bump it whenever
      // build semantics change, or an index persisted by older code
      // would silently serve a now-oracle-gated query; the fingerprint key guards
      // against regenerated data
      val store = indexStore(s, dir, "ann-index/v3")
      if (!store.exists(s, "ann_buckets") || !store.exists(s, "ann_meta"))
        Ann.buildIndex(emb, "vec_id", "embedding", store, "ann")
      Ann.probeTopK(emb, "vec_id", "embedding", store, "ann", queryId = 0L, k = 10)
        .select(col("id").as("vec_id"), round(col("sim"), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
    }),

    // ---- X2 BATCH hyperplane-LSH probe (the serving shape) ----------
    // Top-5 for a 5-query batch through the SAME persisted bucket
    // index as x2_ann_topk, in ONE scan of the bucket store (VERDICT
    // r8 next #8 — the last single-query vector probe): the union of
    // all probes' bucket ids prunes the store once, a broadcast hash
    // join assigns collisions per query, and exact cosine re-ranks
    // candidates only with rank ≤ 5 lowering to WindowGroupLimit.
    // Shares the brute-force batch oracle (same text as
    // x2_ivf_batch_topk/x2_sq_batch_topk): at the index's derived
    // (tables, bits) every query's candidate set provably contains
    // its true top-5 on this corpus (AnnSpec pins it per sf), so the
    // gate proves batch recall 1.0, not just plumbing.
    "x2_ann_batch_topk" -> ((s, dir) => {
      Functions.register(s)
      val emb = Tables.embeddings(s, dir)
      val store = indexStore(s, dir, "ann-index/v3")
      if (!store.exists(s, "ann_buckets") || !store.exists(s, "ann_meta"))
        Ann.buildIndex(emb, "vec_id", "embedding", store, "ann")
      Ann.probeTopKBatch(emb, "vec_id", "embedding", store, "ann",
          queryIds = (0L until 5L), k = 5)
        .select(col("q"), col("rk"), col("id").as("vec_id"), col("sim6"))
        .orderBy("q", "rk")
    }),

    // ---- X2 IVF variant: build-once / probe-many. The index
    // (centroids + cid-partitioned postings) persists in a TableStore
    // keyed by sf dir; the query builds it only when absent and then
    // probes — a warm probe does no training (VERDICT r1 fix #4).
    // Shares the exact brute-force oracle: with the index trained over
    // the full corpus, probe recall is a deterministic 10/10 at
    // nprobe=8/16 on every testdata sf (IvfSpec pins it), so the
    // pruned plan must reproduce the exact top-10. ---------------------
    "x2_ivf_topk" -> ((s, dir) => {
      Functions.register(s)
      val emb = Tables.embeddings(s, dir)
      // v3 = cid-partitioned postings (v2 flat; v1 trained without the
      // probe vector); the fingerprint key guards against regenerated data
      val store = indexStore(s, dir, "ivf-index/v3")
      if (!store.exists(s, "ivf_centroids") || !store.exists(s, "ivf_postings"))
        graft.operators.Ivf.buildIndex(emb, "vec_id", "embedding", store, "ivf")
      graft.operators.Ivf.probeTopK(s, store, "ivf",
          emb.filter(col("vec_id") === 0L).select("embedding"), queryId = 0L, k = 10)
        .select(col("id").as("vec_id"), round(col("sim"), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
    }),

    // ---- X2 IVF with kmeans‖ (scalable) seeding ---------------------
    // The large-k build path wired end to end (VERDICT r9 next #3 —
    // the last documented-not-wired scale plan): seeds come from
    // Bahmani's kmeans‖ oversampling — O(rounds) independent-sampling
    // passes with content-hash draws (engine-exact determinism, the
    // a18_dp_counts discipline) instead of k dependent farthest-first
    // passes, then a driver-side weighted-D² reduction over the
    // model-sized candidate set — so the build survives k in the
    // thousands where Gonzalez/k-means++ serializes. The seeds feed
    // the SAME Lloyd refinement and persisted centroids/postings
    // contract as the stock build (probe/fold/remove unchanged).
    // Shares the brute-force oracle: ScalableSeedsSpec pins per sf
    // that the nprobe=12 shortlist contains the exact top-10 (the
    // measured cliff on this NEAR-UNIFORM synthetic corpus is cell
    // rank 11 — uniform noise has no cluster structure, so the
    // funnel is weak by construction; clustered real embeddings are
    // what give IVF its nprobe≪K cut, and the seed quality itself is
    // bound-gated per sf: coverage radius² ≤ 2× the exact Gonzalez
    // farthest-first baseline, measured 1.03–1.11×).
    "x2_ivf_scalable_topk" -> ((s, dir) => {
      Functions.register(s)
      val emb = Tables.embeddings(s, dir)
      val store = ivfScalStore(s, dir)
      if (!store.exists(s, "ivf_centroids") || !store.exists(s, "ivf_postings"))
        graft.operators.Ivf.buildIndexScalable(
          emb, "vec_id", "embedding", store, "ivf", iters = 6)
      graft.operators.Ivf.probeTopK(s, store, "ivf",
          emb.filter(col("vec_id") === 0L).select("embedding"),
          queryId = 0L, k = 10, nprobe = 12)
        .select(col("id").as("vec_id"), round(col("sim"), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
    }),

    // ---- X2 BATCH IVF probe (the serving shape) ---------------------
    // Top-5 for a 5-query batch in ONE pass over the persisted index:
    // per-query probe cells from one broadcast cosine over the K-row
    // centroid table, the UNION of probed cids partition-prunes the
    // postings read once for the whole batch, exact per-query re-rank
    // (see Ivf.probeTopKBatch). Shares the brute-force oracle — the
    // gate proves batch recall 1.0, not just plumbing. Margin note
    // (same as x2_ivfpq_topk): this SYNTHETIC near-uniform corpus has
    // a tiny true-neighbor/background gap, so recall 1.0 for all 5
    // queries needs nprobe=12 of 16 (measured: 8 misses one rank-5
    // neighbor for 2 of 5 queries); clustered real-world embeddings
    // are what give IVF its usual nprobe≪K funnel, and nprobe is the
    // recall knob a deployment tunes per corpus. Per-query probeTopK
    // would re-plan and rescan 5×; the batch form is how an ANN
    // service amortizes.
    "x2_ivf_batch_topk" -> ((s, dir) => {
      Functions.register(s)
      val emb = Tables.embeddings(s, dir)
      val store = indexStore(s, dir, "ivf-index/v3")
      if (!store.exists(s, "ivf_centroids") || !store.exists(s, "ivf_postings"))
        graft.operators.Ivf.buildIndex(emb, "vec_id", "embedding", store, "ivf")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q"), col("embedding").as("qv"))
      graft.operators.Ivf.probeTopKBatch(s, store, "ivf", queries, k = 5, nprobe = 12)
        .select(col("q"), col("rk"), col("id").as("vec_id"), col("sim6"))
        .orderBy("q", "rk")
    }),

    // ---- X2 INCREMENTAL IVF: fold new vectors, then probe -----------
    // The index-maintenance story on the vector side (TextIndex.fold's
    // sibling, r8): train + build over 90% of the corpus, FOLD the
    // held-out 10% batch against the STORED centroids (Ivf.fold —
    // touched cid partitions rewritten as existing ∪ new through one
    // atomic manifest commit, untouched cids never move, no retrain —
    // the production shape: bulk build, small-batch arrivals), then
    // run the standard probe. Shares the brute-force oracle: the
    // folded index must serve the exact full-corpus top-10 — a lost
    // fold, double-indexed id, or mis-assigned cell shifts the
    // candidate set and breaks the hash. Measured recall cliff of the
    // 90%-trained centroids on this geometry: the truth set spans
    // probe-ranked cells ≤6 at every sf (IvfFoldSpec pins shortlist ⊇
    // truth), so the stock nprobe=8 carries margin; centroid drift
    // past that is what x2_centroid_drift monitors, and retrain ==
    // rebuild.
    "x2_ivf_fold_topk" -> ((s, dir) => {
      Functions.register(s)
      val emb = Tables.embeddings(s, dir)
      val store = ivfFoldStore(s, dir)
      if (!store.exists(s, "ivf_centroids") || !store.exists(s, "ivf_postings")) {
        graft.operators.Ivf.buildIndex(
          emb.filter(col("vec_id") % 10 =!= 9), "vec_id", "embedding", store, "ivf")
        graft.operators.Ivf.fold(s, store, "ivf",
          emb.filter(col("vec_id") % 10 === 9), "vec_id", "embedding")
      }
      graft.operators.Ivf.probeTopK(s, store, "ivf",
          emb.filter(col("vec_id") === 0L).select("embedding"),
          queryId = 0L, k = 10)
        .select(col("id").as("vec_id"), round(col("sim"), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
    }),

    // ---- X2 IVF ERASURE: delete vectors, then probe -----------------
    // The GDPR path for the ANN store (r8): an erased user's embedding
    // must stop being SERVABLE, not just vanish from the source table.
    // Build the full-corpus index once, then Ivf.remove the erased ids
    // (~6% here — erasure batches are small): one column-pruned
    // (id, cid) scan locates the touched cells, only those partitions
    // rewrite as survivors, a fully-emptied cell is dropped from the
    // manifest in the same atomic commit, untouched cells never move.
    // remove is IDEMPOTENT, so it runs unconditionally after the
    // build guard — a crash between build and remove self-heals on
    // the next run instead of serving erased vectors forever (the
    // x3_index_incremental half-built-store lesson). Oracle is the
    // brute-force top-10 over the SURVIVING corpus: a leaked posting
    // (deleted id still served) or an over-deleted survivor breaks
    // the hash. Measured post-delete cell-rank cliff ≤ 6 at every sf
    // (IvfRemoveSpec pins shortlist ⊇ truth), so stock nprobe=8
    // carries margin.
    "x2_ivf_delete_topk" -> ((s, dir) => {
      Functions.register(s)
      val emb = Tables.embeddings(s, dir)
      val store = ivfDeleteStore(s, dir)
      if (!store.exists(s, "ivf_centroids") || !store.exists(s, "ivf_postings"))
        graft.operators.Ivf.buildIndex(emb, "vec_id", "embedding", store, "ivf")
      graft.operators.Ivf.remove(s, store, "ivf",
        emb.filter(col("vec_id") % 17 === 3).select("vec_id"), "vec_id")
      graft.operators.Ivf.probeTopK(s, store, "ivf",
          emb.filter(col("vec_id") === 0L).select("embedding"),
          queryId = 0L, k = 10)
        .select(col("id").as("vec_id"), round(col("sim"), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
    }),

    // ---- X2pq+ivf: the production ANN stack (IVF-PQ + re-rank) ------
    // FAISS's IVF-PQ layout composed from the two persisted indexes:
    // (1) coarse probe — the nprobe nearest IVF cells, partition-
    // pruned postings read; (2) ADC shortlist — candidates score by
    // M lookup-table reads over their PQ codes (no float math, the
    // stage a 100 TB store runs over codes it keeps in memory);
    // (3) exact re-rank of the shortlist with full vectors. Shares
    // the brute-force oracle: the gate proves the three-stage funnel
    // is answer-identical at the shipped parameters. Margin note: on
    // this SYNTHETIC near-uniform corpus the true-neighbor/background
    // similarity gap (~0.33 vs ~0.28) sits inside PQ quantization
    // noise, so the shortlist must stay generous (150 of ~250 probed
    // candidates at sf0.01 — measured: 50 drops a rank-3 neighbor);
    // clustered real-world embeddings are what give the ADC stage its
    // usual 10-100× funnel, and nprobe/shortlist are the recall knobs
    // a deployment tunes per corpus. */
    "x2_ivfpq_topk" -> ((s, dir) => {
      Functions.register(s)
      val emb = Tables.embeddings(s, dir)
      val store = indexStore(s, dir, "ivf-index/v3")
      if (!store.exists(s, "ivf_centroids") || !store.exists(s, "ivf_postings"))
        graft.operators.Ivf.buildIndex(emb, "vec_id", "embedding", store, "ivf")
      // finer 16-code (4-bit) codebook than the oracle-pinned K=4 one:
      // the shortlist stage needs ADC rank fidelity, and the gate below
      // proves the funnel answer-identical at this resolution. Codes
      // come from the PERSISTED pq_codes table (built once per corpus
      // fingerprint) — the shortlist stage is code-resident: probed
      // candidate ids semi-join the stored codes, no re-encode
      val (stored16, books) = storedCodes(s, dir, emb, k = 16)
      val centroids = store.read(s, "ivf_centroids")
      val qv = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qv"))
      val probeCids: Seq[Any] = centroids.crossJoin(broadcast(qv))
        .select(col("cid"), Functions.cosine(col("cvec"), col("qv")).as("csim"))
        .orderBy(col("csim").desc, col("cid")).limit(8)
        .collect().map(_.getLong(0).toInt).toSeq
      val cands = store.prunedRead(s, "ivf_postings", "cid", probeCids)
        .filter(col("id") =!= 0L)
      val q = emb.filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
        .map(x => Math.round(x * 1000000d) + 1000000L).toArray
      val candCodes = stored16.select("id", "m", "code")
        .join(cands.select(col("id")).distinct(), Seq("id"), "left_semi")
      val shortlist = graft.operators.Pq.adcTopK(
        candCodes, graft.operators.Pq.adcTable(q, books), 150)
      emb.join(shortlist.select(col("id").as("vec_id")), Seq("vec_id"), "left_semi")
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), round(Functions.cosine(col("embedding"), col("qv")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    }),

    // ---- X2 range search: ALL vectors within a similarity radius ----
    // The other half of similarity search (top-k's sibling): brute
    // exact form, one codegen'd cosine per row + filter — trivially
    // parallel, no shuffle before the ordered output. The filter runs
    // on the UNROUNDED similarity in both engines (identical float
    // expression), so the qualifying set hash-matches.
    "x2_range_search" -> ((s, dir) => {
      Functions.register(s)
      val emb = Tables.embeddings(s, dir)
      val qv = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qv"))
      emb.filter(col("vec_id") =!= 0L)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), Functions.cosine(col("embedding"), col("qv")).as("sim_raw"))
        .filter(col("sim_raw") >= 0.25)
        .select(col("vec_id"), round(col("sim_raw"), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
    }),

    // ---- X2r: MMR-diversified top-k (Carbonell & Goldstein '98) -----
    // The serving-side re-rank every retrieval stack runs between ANN
    // and the consumer: plain top-k returns 5 near-copies of the same
    // answer; MMR greedily picks argmax λ·rel − (1−λ)·max sim-to-
    // selected, trading relevance for coverage. λ = ½ here, scaled ×2
    // so the marginal score is the INTEGER rel6 − maxsim6 — ties to
    // the smaller vec_id, deterministic in both engines. Scale shape:
    // the only corpus-side work is the shortlist scan (one broadcast-
    // query cosine pass, top-20 by TakeOrderedAndProject); the 20-row
    // shortlist and its 380-entry pairwise sim6 matrix are computed by
    // the SAME Spark expressions as every other x2 gate (floats are
    // rounded to int64 BEFORE leaving the executors), and the greedy
    // O(k·m) integer argmax runs over that bounded frame on the
    // driver — m is a knob (20), never corpus-sized, the "8 probe
    // cids" bounded-collect class. Oracle: recursive-CTE greedy over
    // the identical shortlist, picks carried as a list.
    "x2_mmr_topk" -> ((s, dir) => {
      Functions.register(s)
      val emb = Tables.embeddings(s, dir)
      val qv = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qv"))
      val short = emb.filter(col("vec_id") =!= 0L)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), col("embedding"),
          round(Functions.cosine(col("embedding"), col("qv")) * 1000000d)
            .cast("long").as("rel6"))
        .orderBy(col("rel6").desc, col("vec_id")).limit(20)
        .localCheckpoint(true)
      val rel = short.select(col("vec_id"), col("rel6"))
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      val pairSim = short.toDF("i", "iv", "ir")
        .join(short.toDF("j", "jv", "jr"), col("i") =!= col("j"))
        .select(col("i"), col("j"),
          round(Functions.cosine(col("iv"), col("jv")) * 1000000d)
            .cast("long").as("sim6"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (vec_id, rel6)
      var remaining = rel.sortBy { case (id, r6) => (-r6, id) }.toVector
      for (_ <- 1 to 5) {
        val best =
          if (picks.isEmpty) remaining.head
          else remaining.minBy { case (id, r6) =>
            val maxSim = picks.map(p => pairSim((id, p._1))).max
            (-(r6 - maxSim), id) // max marginal score, ties to min id
          }
        picks += best
        remaining = remaining.filterNot(_._1 == best._1)
      }
      import s.implicits._
      picks.toSeq.zipWithIndex
        .map { case ((id, r6), k) => (k + 1L, id, r6) }
        .toDF("rk", "vec_id", "rel6")
        .orderBy("rk")
    }),

    // ---- X2m: Matryoshka truncation fidelity (MRL QA) ---------------
    // The embedding-store compression QA: if vectors truncate to their
    // first 32 dims (Matryoshka representation learning's nesting
    // contract), does the top-10 neighborhood survive? Reports the
    // full-dim top-10 with each hit's truncated-dim similarity and
    // whether it stays in the truncated top-10 — the recall@10
    // evidence a store needs before switching its serving tier to the
    // cheap prefix. ONE broadcast-query cosine scan feeds BOTH legs:
    // a payload-carrying bounded heap (TopKPay) keeps the full-dim
    // top-10 with each hit's sim32 attached, and a sibling TopK heap
    // keeps the truncated top-10 id set — one partial+final
    // ObjectHashAggregate, O(k) state, the exchange carries two
    // 10-entry arrays. The r6 form ran the corpus scan twice (one per
    // global sort); at 100 TB that's the whole cost of the query. */
    "x2_matryoshka" -> ((s, dir) => {
      Functions.register(s)
      val emb = Tables.embeddings(s, dir)
      val qv = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qv"))
      val sims = emb.filter(col("vec_id") =!= 0L)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"),
          round(Functions.cosine(col("embedding"), col("qv")), 6).as("sim"),
          round(Functions.cosine(slice(col("embedding"), 1, 32),
            slice(col("qv"), 1, 32)), 6).as("sim32"))
      val topPay = graft.functions.TopK.payUdaf(10)
      val top32 = graft.functions.TopK.udaf(10)
      sims.agg(
          topPay(col("sim"), col("vec_id"), col("sim32")).as("top"),
          top32(col("sim32"), col("vec_id")).as("t32"))
        .select(explode(col("top")).as("e"), col("t32"))
        .select(col("e._2").as("vec_id"), col("e._1").as("sim"),
          col("e._3").as("sim32"),
          exists(col("t32"), t => t("_2") === col("e._2")).as("in_trunc_top10"))
        .orderBy(col("sim").desc, col("vec_id"))
    }),

    // ---- X2n: hard-negative mining for contrastive training ---------
    // Per query (vecs 0-4): the 3 most-similar candidates BELOW the
    // positive threshold (sim6 < 450000, the SemDeDup cutoff) — the
    // "hard negatives" a contrastive batch wants. Similarities
    // quantize to 1e-6 ints (the knn discipline) so ranking is
    // engine-exact; the query batch broadcasts, and the rank≤k filter
    // lowers to WindowGroupLimit so the exchange carries ≤ k rows per
    // query. */
    "x2_hard_negatives" -> ((s, dir) => {
      Functions.register(s)
      // Plain scan: the x2_topk_cosine rationale x5 queries
      val emb = Tables.embeddingsPlain(s, dir)
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q"), col("embedding").as("qv"))
      val sims = emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q"))
        .select(col("q"), col("vec_id").as("cand"),
          round(Functions.cosine(col("embedding"), col("qv")) * 1000000d)
            .cast("long").as("sim6"))
        .filter(col("sim6") < 450000L)
      val w = Window.partitionBy(col("q")).orderBy(col("sim6").desc, col("cand"))
      sims.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select(col("q"), col("rk").cast("long").as("rk"), col("cand"), col("sim6"))
        .orderBy("q", "rk")
    }),

    // ---- X2 int8 quantization (compression for embedding stores) ----
    // Symmetric per-vector int8 quantization, reported as integer
    // stats (dims / position-weighted checksum / saturation count) so
    // the oracle hash never depends on float formatting. Single-pass
    // codegen'd expression — a pure map over the corpus, scan-bound at
    // any scale; quantStatsHof below is the relational baseline the
    // spec pins it against.
    "x2_quantize_int8" -> ((s, dir) => {
      Functions.register(s)
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          call_function("quantize_i8_stats", col("embedding")).as("q"))
        .select(col("vec_id"),
          element_at(col("q"), 1).as("n_dims"),
          element_at(col("q"), 2).as("checksum"),
          element_at(col("q"), 3).as("n_sat"))
        .orderBy("vec_id")
    }),

    // ---- X2 SQ funnel: stored int8 codes → integer shortlist →
    // exact re-rank. The scalar-quantization sibling of the PQ/ADC
    // funnel: per-vector symmetric int8 codes (the x2_quantize_int8
    // representation, 64 B/vector vs 256 B float32) persist in the
    // fingerprint-keyed store; a query scans ONLY the code table with
    // pure integer dot products — the per-vector scale cancels in
    // cosine (cos ≈ intdot/√(Σa²·Σb²)), so no float reconstruction —
    // takes a 50-candidate shortlist (TakeOrderedAndProject, 50 rows
    // cross the wire), and re-ranks exactly against the 50 touched
    // embeddings. On this corpus the shortlist provably contains the
    // true top-10 (SqFunnelSpec pins recall at every sf), so the gate
    // shares the brute-force oracle — the standard funnel contract
    // (x2_ann_topk, x2_ivf_topk). Embeddings are scanned once at code
    // build, never per query.
    "x2_sq_topk" -> ((s, dir) => {
      Functions.register(s)
      val emb = Tables.embeddings(s, dir)
      val codes = storedSqCodes(s, dir, emb)
      val q = codes.filter(col("vec_id") === 0)
        .select(col("code").as("qcode"), col("csq").as("qsq"))
      val shortlist = codes.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("intdot", expr(
          "aggregate(zip_with(code, qcode, (a, b) -> a * b), cast(0 as bigint), (acc, x) -> acc + x)"))
        // approximate cosine steers the SHORTLIST only (never the
        // gate): exact-integer inputs → deterministic double → a
        // deterministic candidate set
        .withColumn("approx", col("intdot") / sqrt((col("csq") * col("qsq")).cast("double")))
        .orderBy(col("approx").desc, col("vec_id")).limit(50)
        .select(col("vec_id"))
      emb.join(shortlist, Seq("vec_id"), "left_semi")
        .crossJoin(broadcast(emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"))))
        .select(col("vec_id"), round(Functions.cosine(col("embedding"), col("qv")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
    }),

    // ---- X2 BQ funnel: 1-bit sign codes (8 B/vector — one BIGINT for
    // the 64-dim corpus, 32× smaller than the int8 SQ table) → integer
    // ASYMMETRIC shortlist → exact re-rank. The query side stays
    // full-precision (µ-quantized to exact longs); each candidate
    // contributes Σᵢ ±q6ᵢ with the sign read straight off the packed
    // code via getbit — an exact-integer score, so the 256-candidate
    // shortlist is deterministic (asymmetric scoring beats symmetric
    // Hamming ~2× in shortlist depth on this corpus; measured). On
    // this corpus the shortlist provably contains the true top-10
    // (BqFunnelSpec pins the worst asym-rank ≤ 100 at every sf, 2.5×
    // margin), so the gate shares the brute-force oracle — the
    // standard funnel contract. Margin note (as x2_ivf_batch_topk):
    // this SYNTHETIC near-uniform corpus has a tiny neighbor gap, so
    // 1-bit codes need a 256/N shortlist here; clustered real-world
    // embeddings are what give sign codes their usual ~1% funnel.
    // Embeddings are scanned once at code build, never per query.
    "x2_bq_topk" -> ((s, dir) => {
      Functions.register(s)
      val emb = Tables.embeddings(s, dir)
      val codes = storedBqCodes(s, dir, emb)
      val q6 = emb.filter(col("vec_id") === 0L)
        .select(expr(
          "transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))").as("q6"))
      val shortlist = codes.filter(col("vec_id") =!= 0L)
        .crossJoin(broadcast(q6))
        .withColumn("iscore", expr(
          "aggregate(zip_with(q6, sequence(0, 63), (x, i) -> " +
            "IF(getbit(code, i) = 1, x, -x)), cast(0 as bigint), (acc, e) -> acc + e)"))
        .orderBy(col("iscore").desc, col("vec_id")).limit(256)
        .select(col("vec_id"))
      emb.join(shortlist, Seq("vec_id"), "left_semi")
        .crossJoin(broadcast(emb.filter(col("vec_id") === 0L)
          .select(col("embedding").as("qv"))))
        .select(col("vec_id"), round(Functions.cosine(col("embedding"), col("qv")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
    }),

    // ---- X2 BATCH SQ funnel (the serving shape) ---------------------
    // Top-5 for a 5-query batch through the int8-code funnel in ONE
    // pass over the stored code table (r7 verdict #8 — per-query
    // x2_sq_topk would re-plan and re-scan the codes 5×): per query a
    // 50-candidate integer shortlist (rank ≤ 50 lowers to
    // WindowGroupLimit, ≤ 50 rows per query cross the wire), then
    // exact cosine re-rank of the ≤ 250 touched embeddings. Shares
    // the brute-force batch oracle (same text as x2_ivf_batch_topk) —
    // the gate proves batch funnel recall 1.0, not just plumbing;
    // SqFunnelSpec pins per-query shortlist ⊇ exact top-5 at every sf.
    "x2_sq_batch_topk" -> ((s, dir) => {
      Functions.register(s)
      val emb = Tables.embeddings(s, dir)
      val codes = storedSqCodes(s, dir, emb)
      val qc = codes.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q"), col("code").as("qcode"), col("csq").as("qsq"))
      val ws = Window.partitionBy(col("q")).orderBy(col("approx").desc, col("vec_id"))
      val shortlist = codes.crossJoin(broadcast(qc)).filter(col("vec_id") =!= col("q"))
        .withColumn("intdot", expr(
          "aggregate(zip_with(code, qcode, (a, b) -> a * b), cast(0 as bigint), (acc, x) -> acc + x)"))
        .withColumn("approx", col("intdot") / sqrt((col("csq") * col("qsq")).cast("double")))
        .withColumn("srk", row_number().over(ws)).filter(col("srk") <= 50)
        .select(col("q"), col("vec_id"))
      val qe = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q"), col("embedding").as("qv"))
      val wr = Window.partitionBy(col("q")).orderBy(col("sim6").desc, col("vec_id"))
      emb.select(col("vec_id"), col("embedding"))
        .join(broadcast(shortlist), "vec_id")
        .join(broadcast(qe), "q")
        .select(col("q"), col("vec_id"),
          round(Functions.cosine(col("embedding"), col("qv")) * 1000000d)
            .cast("long").as("sim6"))
        .withColumn("rk", row_number().over(wr)).filter(col("rk") <= 5)
        .select(col("q"), col("rk").cast("long").as("rk"), col("vec_id"), col("sim6"))
        .orderBy("q", "rk")
    }),

    // ---- X2 BATCH ADC over PQ codes ---------------------------------
    // The ADC stage in serving shape: asymmetric-distance top-5 for a
    // 5-query batch in ONE scan of the persisted (id, m, code) table
    // (Pq.adcTopKBatch) — all 5 lookup tables travel as one literal,
    // each code row scores against every query in the same pass, and
    // rank ≤ 5 per query lowers to WindowGroupLimit. The oracle
    // replays quantization + codebook + per-query LUT + ranking in
    // DuckDB — exact integers end to end, the x2_pq_adc_topk
    // discipline batched.
    "x2_adc_batch_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (stored, books) = storedCodes(s, dir, emb)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0),
          r.getSeq[Double](1).map(x => Math.round(x * 1000000d) + 1000000L).toArray))
        .sortBy(_._1)
      val luts = qs.map { case (q, arr) =>
        (q, graft.operators.Pq.adcTable(arr, books)) }.toSeq
      graft.operators.Pq.adcTopKBatch(stored.select("id", "m", "code"), luts, 5)
        .select(col("q"), col("rk"), col("id").as("vec_id"), col("adc_d2"))
        .orderBy("q", "rk")
    }),

    // ---- X2 norm audit (vector data-quality card) -------------------
    // The first check on any embedding delivery: are the vectors on
    // the expected norm scale, per label? ‖x‖² in exact integer 1e-12
    // units (coordinates quantized to 1e-6 BEFORE squaring, so both
    // engines square identical longs); min/max/truncated-mean per
    // label from one codegen'd map + one aggregate. An unnormalized
    // or zero-padded batch shows up as an out-of-band min or max.
    "x2_norm_audit" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(col("label"), expr(
          "aggregate(transform(embedding, v -> cast(round(cast(v as double) * 1000000) as bigint)), " +
            "cast(0 as bigint), (acc, e) -> acc + e * e)").as("n2"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), min(col("n2")).as("min_n2"),
          max(col("n2")).as("max_n2"),
          expr("sum(n2) div count(*)").as("avg_n2"))
        .orderBy("label")
    }),

    // ---- X2 embedding drift monitor (centroid shift per label) ------
    // The vector-side corpus drift check: did each label's centroid
    // move between two corpus halves (old snapshot vs new, here the
    // deterministic vec_id parity split)? Per (label, dim):
    // drift = S₁/n₁ − S₂/n₂ over 1e-6-quantized coordinates, computed
    // EXACTLY as the integer (S₁·n₂ − S₂·n₁)·10⁶ div (n₁·n₂) — no
    // float means, no order-sensitive double sums, so the report
    // hash-matches at any partition count. Two hash aggregates over
    // one explode; corpus-scale exchanges carry (label, dim, long).
    "x2_centroid_drift" -> ((s, dir) => {
      val x = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("idx", "v")))
        .select(col("vec_id"), col("label"), col("idx").cast("long").as("idx"),
          (round(col("v").cast("double") * 1000000L).cast("long") + 1000000L).as("x6"))
      val h = x.groupBy(col("label"), col("idx"))
        .agg(sum(when(col("vec_id") % 2 === 0, col("x6"))).as("s1"),
          count(when(col("vec_id") % 2 === 0, lit(1))).as("n1"),
          sum(when(col("vec_id") % 2 === 1, col("x6"))).as("s2"),
          count(when(col("vec_id") % 2 === 1, lit(1))).as("n2"))
      // numerator through DECIMAL(38,0): S·n·10⁶ wraps BIGINT past
      // ~1e3 vectors/label (the a14_copurchase discipline). Drift is
      // SIGNED and floor-division (DuckDB //) disagrees with
      // truncation on negatives, so divide |num| and reapply the sign
      // — identical in both engines by construction.
      h.filter(col("n1") > 0 && col("n2") > 0)
        .withColumn("num",
          expr("cast(s1 as decimal(38,0)) * n2 - cast(s2 as decimal(38,0)) * n1"))
        .select(col("label"), col("idx"),
          expr("case when num < 0 then -((-num * 1000000) div (n1 * n2)) " +
            "else (num * 1000000) div (n1 * n2) end").cast("long").as("drift6"))
        .orderBy("label", "idx")
    }),

    // ---- X2 retrieval eval: recall@10 + MRR vs exact ground truth ---
    // The index-QA loop every retrieval pipeline runs before swapping
    // an ANN config into production: for a 20-query batch, grade the
    // DEGRADED retriever (int8 code ranking, no re-rank — the raw
    // shortlist quality the x2_sq_topk funnel papers over) against the
    // exact cosine top-10. recall@10 = overlap count; reciprocal rank
    // of the true nearest neighbor in integer ppm (1e6 div rank) —
    // both pure functions of the deterministic rankings, so the gate
    // is the full DuckDB replay of quantization + both rankings. Plan:
    // queries broadcast (20 rows); ground truth is one corpus scan ×
    // 20, the system ranking scans only the stored code table;
    // rank≤10 lowers to WindowGroupLimit so each exchange carries
    // ≤ 10 rows per query.
    "x2_eval_recall" -> ((s, dir) => {
      Functions.register(s)
      val emb = Tables.embeddings(s, dir)
      val codes = storedSqCodes(s, dir, emb)
      val qe = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q"), col("embedding").as("qv"))
      val qc = codes.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q"), col("code").as("qcode"), col("csq").as("qsq"))
      val wg = Window.partitionBy(col("q")).orderBy(col("sim6").desc, col("vec_id"))
      val gt = emb.crossJoin(broadcast(qe)).filter(col("vec_id") =!= col("q"))
        .select(col("q"), col("vec_id"),
          round(Functions.cosine(col("embedding"), col("qv")) * 1000000d)
            .cast("long").as("sim6"))
        .withColumn("grk", row_number().over(wg)).filter(col("grk") <= 10)
        .select(col("q"), col("vec_id"), col("grk"))
      val ws = Window.partitionBy(col("q")).orderBy(col("approx").desc, col("vec_id"))
      val sys = codes.crossJoin(broadcast(qc)).filter(col("vec_id") =!= col("q"))
        .withColumn("intdot", expr(
          "aggregate(zip_with(code, qcode, (a, b) -> a * b), cast(0 as bigint), (acc, x) -> acc + x)"))
        .withColumn("approx", col("intdot") / sqrt((col("csq") * col("qsq")).cast("double")))
        .withColumn("srk", row_number().over(ws)).filter(col("srk") <= 10)
        .select(col("q"), col("vec_id"), col("srk"))
      gt.join(sys, Seq("q", "vec_id"), "left")
        .groupBy(col("q"))
        .agg(count(col("srk")).as("n_hits"),
          coalesce(max(when(col("grk") === 1, expr("1000000 div srk"))), lit(0L))
            .as("rr_ppm"))
        .orderBy("q")
    }),

    // ---- X2 MIPS: maximum-inner-product top-k -----------------------
    // Recommendation scoring's native objective — rank by RAW dot
    // product, not cosine (a long, popular item should outrank a
    // short, perfectly-aligned one). Brute force here (one corpus
    // scan × broadcast query, codegen'd vec_dot, TakeOrderedAndProject
    // cut); the scale path is the standard norm-augmentation
    // reduction (Bachrach et al., RecSys'14): append
    // √(M² − ‖x‖²) to every vector and MIPS becomes cosine NN, served
    // by the existing LSH/IVF indexes — same funnel discipline, one
    // extra dimension. Dots are IEEE array-order sums over the same
    // float inputs in both engines, hence hash-exact at 1e-6 scale.
    "x2_mips_topk" -> ((s, dir) => {
      Functions.register(s)
      val emb = Tables.embeddings(s, dir)
      emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"))))
        .select(col("vec_id"),
          round(Functions.dotd(col("embedding"), col("qv")) * 1000000d)
            .cast("long").as("dot6"))
        .orderBy(col("dot6").desc, col("vec_id")).limit(10)
    }),

    // ---- X2 MIPS through the index stack ----------------------------
    // The scale path the brute-force gate above documents, WIRED
    // (VERDICT r7 missing #2): norm-augmentation (Mips.augment —
    // append √(M²−‖x‖²), query padded with 0) turns MIPS into cosine
    // NN over augmented vectors, served by a persisted cid-partitioned
    // IVF index (build-once per corpus fingerprint, partition-pruned
    // probe), then EXACT inner-product re-rank of the shortlist over
    // the original vectors. Shares x2_mips_topk's brute-force oracle:
    // the gate proves the reduction + funnel answer-identical at the
    // shipped parameters; MipsIndexedSpec pins shortlist⊇true-top-10
    // at every sf. Same margin note as x2_ivf_batch_topk: this
    // near-uniform synthetic corpus needs a generous nprobe (12/16).
    "x2_mips_indexed" -> ((s, dir) => {
      Functions.register(s)
      val emb = Tables.embeddings(s, dir)
      val store = mipsStore(s, dir)
      graft.operators.Mips.indexedTopK(s, emb, "vec_id", "embedding",
        store, "mips", queryId = 0L, k = 10)
    }),

    // ---- X2 BATCH MIPS through the augmented index ------------------
    // MIPS in serving shape: inner-product top-5 for a 5-query batch
    // through the SAME persisted augmented-IVF index x2_mips_indexed
    // builds — per-query probe cells from one broadcast cosine over
    // the centroid table, the union of probed cids partition-prunes
    // the postings read ONCE for the whole batch (Ivf.probeTopKBatch),
    // then exact inner-product re-rank of each query's 50-candidate
    // shortlist. The oracle is the brute-force per-query dot ranking;
    // MipsIndexedSpec pins batch shortlist ⊇ true top-5 at every sf.
    "x2_mips_batch" -> ((s, dir) => {
      Functions.register(s)
      val emb = Tables.embeddings(s, dir)
      val store = mipsStore(s, dir)
      if (!store.exists(s, "mips_centroids") || !store.exists(s, "mips_postings"))
        graft.operators.Ivf.buildIndex(
          graft.operators.Mips.augment(emb, "vec_id", "embedding"),
          "vec_id", "aug", store, "mips")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q"),
          concat(col("embedding").cast("array<double>"), array(lit(0d))).as("qv"))
      val shortlist = graft.operators.Ivf.probeTopKBatch(s, store, "mips",
          queries, k = 50, nprobe = 14)
        .select(col("q"), col("id").as("vec_id"))
      val qe = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q"), col("embedding").as("qraw"))
      val wr = Window.partitionBy(col("q")).orderBy(col("dot6").desc, col("vec_id"))
      emb.select(col("vec_id"), col("embedding"))
        .join(broadcast(shortlist), "vec_id")
        .join(broadcast(qe), "q")
        .select(col("q"), col("vec_id"),
          round(Functions.dotd(col("embedding"), col("qraw")) * 1000000d)
            .cast("long").as("dot6"))
        .withColumn("rk", row_number().over(wr)).filter(col("rk") <= 5)
        .select(col("q"), col("rk").cast("long").as("rk"), col("vec_id"), col("dot6"))
        .orderBy("q", "rk")
    }),

    // ---- X2 FILTERED vector search (attribute-pruned) ---------------
    // "Top-k most similar WHERE label = 1" — the filtered-ANN shape
    // every retrieval deployment needs (tenant / language / license
    // filters). Post-filtering an unfiltered ANN shortlist loses
    // recall when the filter is selective; the scale-honest design is
    // to make the filter attribute the index's PARTITION key: the
    // store lives hive-partitioned by label, so the probe's
    // partition-pruned read touches ONLY the matching label's files
    // (PartitionFilters in the plan, zero I/O elsewhere — exactly the
    // IVF cid-pruning mechanism pointed at a metadata column), and
    // the exact re-rank within the partition gives recall 1.0 by
    // construction. At 100 TB with L labels the probe scans corpus/L;
    // compose with the IVF index inside each partition when one
    // label is itself huge.
    "x2_filtered_topk" -> ((s, dir) => {
      Functions.register(s)
      val emb = Tables.embeddings(s, dir)
      val store = indexStore(s, dir, "label-part/v1")
      if (!store.exists(s, "flt_postings"))
        store.replacePartitions(s, "flt_postings",
          emb.repartition(col("label")), "label")
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      store.prunedRead(s, "flt_postings", "label", Seq(1))
        .filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), round(Functions.cosine(col("embedding"), col("qv")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
    }),

    // ---- X2 k-NN join within label groups ---------------------------
    // The embedding-QA neighbor op: every vector's top-3 most-similar
    // vectors OF THE SAME LABEL (class-compactness checks, hard-
    // negative candidate mining). Candidates are blocked within
    // (label, LSH bucket) — Ann.knnWithinLabel with group-derived
    // (tables, bits), NOT a label-only self-join: label blocking
    // alone is Σ group² = Θ(n²/L) for a fixed label count (the r3
    // quadratic plan), while bucket blocking holds candidate slots
    // linear in n and dedups pairs before any vector attaches. Exact
    // re-rank on the candidates reproduces the all-pairs answer
    // (AnnSpec pins blocked == all-pairs at every sf); sim ×1e6 as an
    // exact integer so the hash never rides float formatting.
    "x2_knn_within_label" -> ((s, dir) => {
      Functions.register(s)
      Ann.knnWithinLabel(Tables.embeddings(s, dir), "vec_id", "embedding", "label", 3)
        .orderBy("vec_id", "rk")
    }),

    // ---- A6 exact centroid (decimal-routed, oracle-checked) ---------
    // Emits (sum, n) rather than sum/n: the exact decimal sum
    // hash-matches any engine, while a rounded double quotient can
    // land on a half-way rounding boundary and differ in the last
    // digit (observed once in 128k rows).
    "x2_centroid_exact" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("idx", "v")))
        .groupBy(col("label"), col("idx").cast("long").as("idx"))
        .agg(Functions.dsum(col("v").cast("double")).as("c_sum"),
          count(lit(1)).as("n"))
        .orderBy("label", "idx")
    }),

    // ---- X2c: nearest-centroid classifier + confusion matrix --------
    // The embedding-QA eval loop: label centroids from the corpus,
    // assign every vector to its nearest centroid, cross-tabulate
    // predicted vs true label. Made EXACTLY reproducible cross-engine
    // by doing the whole geometry in integers: values quantize to
    // 1e-6 ints and SHIFT non-negative (distances are shift-
    // invariant; non-negativity makes floor-div == trunc-div, so
    // DuckDB's // and Spark's div agree), centroids are round-half-up
    // rational means via (2S+n) div 2n, and squared distances are
    // exact longs (diff² ≤ ~1.5e12 × 64 dims — no overflow at any
    // corpus size, the bound depends on the VALUE range, not n).
    // Argmin ties break on label asc. Plan: one explode + two hash
    // aggregates + a broadcast-sized dims×labels join + one ranking
    // window over 10 rows/vector — one real shuffle on (vec, label).
    "x2_centroid_classify" -> ((s, dir) => {
      val x = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("idx", "v")))
        .select(col("vec_id"), col("label"), col("idx"),
          (round(col("v").cast("double") * 1000000L).cast("long") + 1000000L).as("x6"))
      val cent = x.groupBy(col("label").as("c_label"), col("idx"))
        .agg(expr("(2 * sum(x6) + count(*)) div (2 * count(*))").as("c6"))
      val d2 = x.join(broadcast(cent), Seq("idx"))
        .groupBy(col("vec_id"), col("label"), col("c_label"))
        .agg(sum((col("x6") - col("c6")) * (col("x6") - col("c6"))).as("d2"))
      val w = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("c_label"))
      d2.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .groupBy(col("label").as("true_label"), col("c_label").as("pred_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy("true_label", "pred_label")
    }),

    // ---- X2k: distributed k-means (exact-integer Lloyd's) -----------
    // The clustering primitive for corpus curation: 3 Lloyd rounds
    // from deterministic seeds (vectors 0..7), whole geometry in
    // shifted 1e-6 ints so both engines agree bit for bit (the
    // x2_centroid_classify discipline). Per iteration: one map-side
    // assignment pass (centroids inlined as a literal k×d array — no
    // join, no shuffle of vectors) + one partial+final (cid, idx)
    // aggregate whose exchange carries ≤ parts×k×64 rows. Driver
    // state k×64 longs. Output: per-cluster size, exact inertia, and
    // a position-weighted centroid checksum pinning the centroids
    // themselves.
    "x2_kmeans" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = fittedCentroids(s, dir, emb)
      val a = graft.operators.Kmeans.assign(emb, "vec_id", "embedding", cents)
      val ck = cents.toIndexedSeq.zipWithIndex.map { case (c, cid) =>
        (cid.toLong, c.toIndexedSeq.zipWithIndex.map { case (v, i) => v * (i + 1L) }.sum)
      }
      val ckDf = s.createDataFrame(ck).toDF("cluster", "c_checksum")
      a.groupBy(col("cid").as("cluster"))
        .agg(count(lit(1)).as("n"), sum(col("d2")).as("inertia"))
        .join(broadcast(ckDf), "cluster")
        .orderBy("cluster")
    }),

    // ---- X2k2: k-center seeding (farthest-first traversal) ----------
    // The DETERMINISTIC alternative to k-means++ sampling (Gonzalez
    // 1985, the 2-approximation for the k-center objective): seed 1 =
    // min vec_id, each next seed is the vector FARTHEST from the
    // chosen set, and the final row reports the coverage radius
    // (max-min distance) the 4 seeds achieve. Exactly the seeds a
    // production k-means would want instead of x2_kmeans' first-8-ids
    // init — and fully replayable, because farthest-first has no
    // randomness to coordinate across engines. Shape at 100 TB: k
    // passes, each a join-free literal-centroid distance projection
    // over the quantized coords (the Kmeans.assign discipline) + a
    // running least() against the maintained min-distance column; the
    // only driver traffic is k bounded argmax collects (1 row each,
    // the "8 probe cids" class). All distances are exact integers on
    // 1e-6-quantized coords. (For k in the thousands you'd switch to
    // kmeans||-style oversampling to batch the passes; at seed-count
    // k this IS the scale plan.)
    "x2_kcenter_seed" -> ((s, dir) => {
      import s.implicits._
      val x = Tables.embeddings(s, dir)
        .select($"vec_id", graft.operators.Kmeans.scaledVec($"embedding").as("x6"))
        .localCheckpoint()
      def d2To(c: Seq[Long]) = aggregate(
        zip_with($"x6", typedLit(c), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, v) => acc + v)
      val first = x.orderBy($"vec_id").limit(1).head()
      var picks = Vector((1L, first.getLong(0), 0L))
      var center: Seq[Long] = first.getSeq[Long](1)
      var m = x.select($"vec_id", d2To(center).as("m"), $"x6")
      for (rk <- 2L to 4L) {
        val p = m.orderBy($"m".desc, $"vec_id").limit(1).head()
        picks = picks :+ ((rk, p.getLong(0), p.getLong(1)))
        center = p.getSeq[Long](2)
        m = m.select($"vec_id", least($"m", d2To(center)).as("m"), $"x6")
          .localCheckpoint()
      }
      val r = m.orderBy($"m".desc, $"vec_id").limit(1).head()
      picks = picks :+ ((5L, r.getLong(0), r.getLong(1)))
      picks.toDF("rk", "vec_id", "sel_d2").orderBy($"rk")
    }),

    // ---- X2s: semantic dedup (SemDeDup, Abbas et al. 2023) ----------
    // Near-dup removal that only compares WITHIN a k-means cluster:
    // candidate volume is Σ|c|² for k clusters instead of n² — at
    // 100 TB you pick k ≈ n/10⁴ so clusters stay bounded and the one
    // vector-carrying shuffle is the hash exchange on cid. Drop rule
    // (deterministic, chain-free): a vector is dropped iff SOME
    // smaller-id vector in the same cluster has cosine sim ≥ 0.45
    // (sim quantized to 1e-6 ints, the knn_within_label discipline).
    // Output per cluster: size, kept count, and the exact sum of
    // dropped ids as a membership checksum.
    "x2_semantic_dedup" -> ((s, dir) => {
      Functions.register(s)
      val emb = Tables.embeddings(s, dir)
      val a0 = graft.operators.Kmeans.assign(emb, "vec_id", "embedding",
        fittedCentroids(s, dir, emb))
      val a = a0.select(col("id").as("vec_id"), col("cid"))
      val e = emb.select(col("vec_id"), col("embedding").as("v"),
        sqrt(Functions.dotd(col("embedding"), col("embedding"))).as("nrm"))
        .join(a, "vec_id")
      val l = e.select(col("cid"), col("vec_id").as("ida"), col("v").as("va"), col("nrm").as("na"))
      val r = e.select(col("cid"), col("vec_id").as("idb"), col("v").as("vb"), col("nrm").as("nb"))
      val dropped = l.join(r, Seq("cid"))
        .filter(col("ida") < col("idb"))
        .select(col("cid"), col("idb"),
          round(Functions.dotd(col("va"), col("vb")) / (col("na") * col("nb")) * 1000000d)
            .cast("long").as("sim6"))
        .filter(col("sim6") >= 450000L)
        .select(col("cid"), col("idb")).distinct()
      a.groupBy(col("cid")).agg(count(lit(1)).as("n"))
        .join(dropped.groupBy(col("cid"))
            .agg(count(lit(1)).as("n_drop"), sum(col("idb")).as("drop_sum")),
          Seq("cid"), "left")
        .select(col("cid").as("cluster"), col("n"),
          (col("n") - coalesce(col("n_drop"), lit(0L))).as("n_kept"),
          coalesce(col("drop_sum"), lit(0L)).as("drop_sum"))
        .orderBy("cluster")
    }),

    // ---- X2p: product quantization (Jégou et al. 2011) --------------
    // The memory-scale similarity path: 64 float dims compress to 8
    // 2-bit codes via per-subspace integer k-means (all 8 subspaces
    // trained in ONE pass per Lloyd round — subspace is a grouping
    // key, not a loop). The codebook persists build-once/probe-many
    // like the ANN/IVF indexes; encode is a map-side projection (no
    // shuffle — at 100 TB this is the compression pass the corpus
    // store runs once). Output: per-vector code checksum + exact
    // integer quantization error, vs an unrolled-CTE oracle running
    // the identical integer Lloyd rounds.
    "x2_pq_encode" -> ((s, dir) => {
      // builds (or reuses) the persisted code table, then reports off
      // the STORED codes — the encode pass runs once per corpus
      val emb = Tables.embeddings(s, dir)
      storedCodes(s, dir, emb)._1
        .groupBy(col("id").as("vec_id"))
        .agg(sum((col("m") + 1) * (col("code") + 1)).as("code_checksum"),
          sum("d2").as("q_err"))
        .orderBy("vec_id")
    }),

    // ---- X2p: asymmetric-distance (ADC) top-k over PQ codes ---------
    // The PQ search story: the query vector becomes an 8×4 integer
    // lookup table (driver-computed from the persisted codebook); per
    // stored vector the distance is 8 literal-array lookups + a sum
    // over the CODES — the embedding column is never scanned at query
    // time. At 100 TB the codes table is ~64× smaller than the
    // vectors and the whole search is one aggregate + top-k.
    "x2_pq_adc_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // probe the PERSISTED code table: the query touches only stored
      // (id, m, code) rows + one driver-side lookup table — no
      // per-query re-encode, no embedding scan beyond the 1-row query
      val (stored, books) = storedCodes(s, dir, emb)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
        .map(x => Math.round(x * 1000000d) + 1000000L).toArray
      val codes = stored.filter(col("id") =!= 0L).select("id", "m", "code")
      graft.operators.Pq.adcTopK(codes, graft.operators.Pq.adcTable(q, books), 10)
        .select(col("id").as("vec_id"), col("adc_d2"))
        .orderBy("adc_d2", "vec_id")
    }),

    // ---- A6 typed Aggregator centroid (the idiomatic fast path) -----
    // ORACLE-GATED via exact-integer quantization (VERDICT r12 next
    // #6 — this was the one no_oracle leg with an exact twin already
    // green): inputs quantize to 1e-6 ints BEFORE the aggregate, so
    // the Aggregator's double accumulation sums exact integers
    // (≤ ~1e10 « 2^53) — order-insensitive, bit-reproducible — and the
    // mean it returns is one IEEE division of exact operands. The
    // output re-multiplies by n and rounds back to the exact integer
    // sum (relative error ~2^-52·1e10 « 0.5, so the round is exact),
    // which DuckDB reproduces verbatim. The TYPED-AGGREGATOR path —
    // buffer encoder, merge, finish — is exactly what the gate now
    // exercises; the unquantized float path stays pinned by
    // VecCentroidSpec against x2_centroid_exact within 1e-9.
    "x2_centroid_agg" -> ((s, dir) => {
      val q6 = Tables.embeddings(s, dir)
        .select(col("label"),
          transform(col("embedding").cast("array<double>"),
            x => round(x * lit(1000000d))).cast("array<float>").as("q6"))
      q6.groupBy(col("label"))
        .agg(VecCentroid.udaf(col("q6")).as("centroid"), count(lit(1)).as("n"))
        .select(col("label"), col("n"), posexplode(col("centroid")).as(Seq("idx", "c")))
        .select(col("label"), col("idx").cast("long").as("idx"),
          round(col("c") * col("n")).cast("long").as("c_sum6"), col("n"))
        .orderBy("label", "idx")
    })
  )

  /** Relational HOF baseline for `quantize_i8_stats` (spec oracle —
    * QuantizeInt8Spec pins the expression equal element by element).
    * Bound-lambda idiom throughout: the cast vector and max-abs are
    * bound once as lambda variables, never re-inlined per element. */
  def quantStatsHof(vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    element_at(transform(array(vec.cast("array<double>")), v =>
      element_at(transform(array(array_max(transform(v, x => abs(x)))), m =>
        array(
          size(v).cast("long"),
          when(m > lit(0d),
            aggregate(
              zip_with(v, sequence(lit(1), size(v)), (x, i) =>
                floor(x * lit(127d) / m + lit(0.5d)) * i.cast("long")),
              lit(0L), (acc, e) => acc + e))
            .otherwise(lit(0L)),
          when(m > lit(0d),
            size(filter(v, x => abs(floor(x * lit(127d) / m + lit(0.5d))) === lit(127L))).cast("long"))
            .otherwise(lit(0L)))), 1)), 1)

  private[queries] val TopkOracleSql =
    """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id,
      |round(list_dot_product(embedding::DOUBLE[], q.qv) /
      |      (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
      |FROM embeddings, q WHERE vec_id <> 0
      |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  /** Brute-force per-query top-5 for the 5-query batch gates — shared
    * by x2_ivf_batch_topk and x2_sq_batch_topk: both batch funnels
    * must reproduce the exact per-query ranking (recall 1.0). */
  private val batchTopkOracle =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings),
      |p AS (SELECT q.vec_id AS q, c.vec_id AS cand,
      |        CAST(ROUND(list_dot_product(q.v, c.v) / (q.nrm * c.nrm) * 1000000) AS BIGINT) AS sim6
      |      FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
      |r AS (SELECT q, cand, sim6,
      |        row_number() OVER (PARTITION BY q ORDER BY sim6 DESC, cand) AS rk
      |      FROM p)
      |SELECT q, CAST(rk AS BIGINT) AS rk, cand AS vec_id, sim6 FROM r
      |WHERE rk <= 5 ORDER BY q, rk""".stripMargin

  /** Build-once / probe-many k-means model: the fitted centroids
    * persist in a tiny store table (k×d rows) keyed by the embeddings
    * fingerprint, so the two consumers (x2_kmeans, x2_semantic_dedup)
    * and warm bench passes skip the 3 Lloyd iterations and just
    * assign. The model is exact longs — reloading reproduces the fit
    * bit for bit. */
  private def fittedCentroids(s: SparkSession, dir: String,
      emb: DataFrame): Array[Array[Long]] = {
    val store = indexStore(s, dir, "kmeans-model/v1")
    if (store.exists(s, "centroids")) {
      val rows = store.read(s, "centroids").collect()
      val k = rows.map(_.getLong(0)).max.toInt + 1
      val dim = rows.map(_.getInt(1)).max + 1
      val cents = Array.ofDim[Long](k, dim)
      rows.foreach(r => cents(r.getLong(0).toInt)(r.getInt(1)) = r.getLong(2))
      cents
    } else {
      val cents = graft.operators.Kmeans.fit(emb, "vec_id", "embedding", k = 8, iters = 3)
      val flat = cents.toIndexedSeq.zipWithIndex.flatMap { case (c, cid) =>
        c.toIndexedSeq.zipWithIndex.map { case (v, i) => (cid.toLong, i, v) }
      }
      store.replace(s, "centroids", s.createDataFrame(flat).toDF("cid", "idx", "c6"))
      cents
    }
  }

  /** Build-once / probe-many PQ codebook: M×K×(d/M) exact longs in a
    * tiny store table keyed by the embeddings fingerprint (the
    * `fittedCentroids` pattern) — both PQ consumers and warm bench
    * passes skip the 2 Lloyd rounds and just encode. */
  private[queries] def fittedBooks(s: SparkSession, dir: String,
      emb: DataFrame, k: Int = graft.operators.Pq.K): Array[Array[Array[Long]]] = {
    import graft.operators.Pq
    val store = pqStore(s, dir, k)
    val books = Array.ofDim[Long](Pq.M, k, Pq.subDim)
    if (store.exists(s, "codebook")) {
      store.read(s, "codebook").collect().foreach(r =>
        books(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getLong(3))
      books
    } else {
      val fitted = Pq.fit(emb, "vec_id", "embedding", iters = 2, k = k)
      val flat = for {
        m <- 0 until Pq.M; c <- 0 until k; i <- 0 until Pq.subDim
      } yield (m, c, i, fitted(m)(c)(i))
      store.replace(s, "codebook", s.createDataFrame(flat).toDF("m", "code", "idx", "c6"))
      fitted
    }
  }

  /** Build-once / probe-many PQ CODE table — the compressed
    * representation a 100 TB corpus actually stores (codebook alone
    * was persisted before r7; the corpus-sized (id, m, code, d2)
    * table was recomputed per query, VERDICT r6 #3). Lives beside its
    * codebook in the fingerprint-keyed store: regenerated data →
    * fresh key → both rebuild together. ADC search then reads CODES
    * off disk — the embedding column is scanned once at build, never
    * at query time. Returns (codes, books). */
  private[queries] def storedCodes(s: SparkSession, dir: String, emb: DataFrame,
      k: Int = graft.operators.Pq.K): (DataFrame, Array[Array[Array[Long]]]) = {
    val books = fittedBooks(s, dir, emb, k)
    val store = pqStore(s, dir, k)
    if (!store.exists(s, "pq_codes"))
      store.replace(s, "pq_codes",
        graft.operators.Pq.encode(emb, "vec_id", "embedding", books))
    (store.read(s, "pq_codes"), books)
  }

  /** Build-once / probe-many scalar-quantization code table for the
    * `x2_sq_topk` funnel: (vec_id, code: array<bigint> of int8 values,
    * csq = Σ code²). No training — encode is a pure codegen'd map over
    * one corpus scan (q_d = ⌊x_d·127/maxabs + ½⌋, the
    * x2_quantize_int8 formula; `ma` bound OUTSIDE the per-element
    * lambda — Catalyst does no CSE inside HOF lambdas). Fingerprint-
    * keyed like every index artifact: regenerated data → fresh key →
    * rebuild. */
  /** The int8 encode itself, reusable by any store (the erasure
    * cascade builds codes into its own walked store). */
  private[queries] def sqEncode(emb: DataFrame): DataFrame = emb
    .withColumn("ma", expr("array_max(transform(embedding, x -> abs(cast(x as double))))"))
    .withColumn("code", expr(
      "CASE WHEN ma > 0 THEN transform(embedding, x -> " +
        "cast(floor(cast(x as double) * 127 / ma + 0.5d) as bigint)) " +
        "ELSE transform(embedding, x -> cast(0 as bigint)) END"))
    .withColumn("csq", expr(
      "aggregate(code, cast(0 as bigint), (acc, x) -> acc + x * x)"))
    .select("vec_id", "code", "csq")

  private[queries] def storedSqCodes(s: SparkSession, dir: String,
      emb: DataFrame): DataFrame = {
    val store = sqStore(s, dir)
    if (!store.exists(s, "sq_codes"))
      store.replace(s, "sq_codes", sqEncode(emb))
    store.read(s, "sq_codes")
  }

  /** Build-once / probe-many 1-bit sign codes for the `x2_bq_topk`
    * funnel: (vec_id, code: ONE bigint — bit i set iff dim i > 0).
    * 8 B/vector. No training — encode is one pure map over one corpus
    * scan (pack via shiftleft + bitwise OR fold; bit 63 lands on the
    * sign bit, which OR handles fine). Fingerprint-keyed like every
    * index artifact: regenerated data → fresh key → rebuild. */
  /** The 1-bit sign encode itself, reusable by any store (the erasure
    * cascade builds codes into its own walked store). */
  private[queries] def bqEncode(emb: DataFrame): DataFrame = emb
    .withColumn("code", expr(
      "aggregate(zip_with(embedding, sequence(0, 63), (x, i) -> " +
        "IF(cast(x as double) > 0d, shiftleft(cast(1 as bigint), i), cast(0 as bigint))), " +
        "cast(0 as bigint), (acc, e) -> acc | e)"))
    .select("vec_id", "code")

  private[queries] def storedBqCodes(s: SparkSession, dir: String,
      emb: DataFrame): DataFrame = {
    val store = indexStore(s, dir, "bq-codes/v1")
    if (!store.exists(s, "bq_codes"))
      store.replace(s, "bq_codes", bqEncode(emb))
    store.read(s, "bq_codes")
  }

  /** Unrolled exact-integer per-subspace Lloyd's for the PQ oracle —
    * the `kmeansCtes` discipline with (m, idx) in place of idx:
    * subspace m owns dims [8m, 8m+8), seeds are vec_id < 4 sliced per
    * subspace, 2 assign/update rounds then a final assign. */
  private def pqAssign(n: Int, c: String): String =
    s"""pa$n AS (SELECT vec_id, m, code, d2,
       |    row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rk
       |  FROM (SELECT x.vec_id, x.m, c.code, SUM((x.x6 - c.c6)*(x.x6 - c.c6)) AS d2
       |        FROM px x JOIN $c c ON x.m = c.m AND x.idx = c.idx GROUP BY 1, 2, 3) t)""".stripMargin
  private def pqUpdate(n: Int, prev: String, a: String): String =
    s"""pc$n AS (SELECT p.m, p.code, p.idx,
       |    CAST(COALESCE((2*s.sx + s.n) // (2*s.n), p.c6) AS BIGINT) AS c6
       |  FROM $prev p LEFT JOIN (
       |    SELECT a.m, a.code, x.idx, SUM(x.x6) AS sx, COUNT(*) AS n
       |    FROM $a a JOIN px x ON x.vec_id = a.vec_id AND x.m = a.m
       |    WHERE a.rk = 1 GROUP BY 1, 2, 3) s
       |  ON p.m = s.m AND p.code = s.code AND p.idx = s.idx)""".stripMargin
  private val pqCtes: String =
    s"""WITH px AS (SELECT vec_id, (i-1) // 8 AS m, (i-1) % 8 AS idx,
       |    CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) + 1000000 AS x6
       |  FROM embeddings, generate_series(1, 64) s(i)),
       |pc0 AS (SELECT m, vec_id AS code, idx, x6 AS c6 FROM px WHERE vec_id < 4),
       |${pqAssign(1, "pc0")},
       |${pqUpdate(1, "pc0", "pa1")},
       |${pqAssign(2, "pc1")},
       |${pqUpdate(2, "pc1", "pa2")},
       |${pqAssign(3, "pc2")}""".stripMargin

  /** Unrolled exact-integer Lloyd's for the DuckDB oracle: x6 scaled
    * dims, c0 = seeds (vec_id < 8), then assign/update × 3. Shares
    * the x2_centroid_classify integer discipline, so every CTE is
    * engine-exact; `//` on non-negative operands == Spark div. */
  private def kmAssign(n: Int, c: String): String =
    s"""a$n AS (SELECT vec_id, cid, d2,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
       |  FROM (SELECT x.vec_id, c.cid, SUM((x.x6 - c.c6)*(x.x6 - c.c6)) AS d2
       |        FROM x JOIN $c c USING (idx) GROUP BY 1, 2) t)""".stripMargin
  private def kmUpdate(n: Int, prev: String, a: String): String =
    s"""c$n AS (SELECT p.cid, p.idx,
       |    CAST(COALESCE((2*s.sx + s.n) // (2*s.n), p.c6) AS BIGINT) AS c6
       |  FROM $prev p LEFT JOIN (
       |    SELECT a.cid, x.idx, SUM(x.x6) AS sx, COUNT(*) AS n
       |    FROM $a a JOIN x USING (vec_id) WHERE a.rk = 1 GROUP BY 1, 2) s
       |  ON p.cid = s.cid AND p.idx = s.idx)""".stripMargin
  private val kmeansCtes: String =
    s"""WITH x AS (SELECT vec_id, i AS idx,
       |    CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) + 1000000 AS x6
       |  FROM embeddings, generate_series(1, 64) s(i)),
       |c0 AS (SELECT vec_id AS cid, idx, x6 AS c6 FROM x WHERE vec_id < 8),
       |${kmAssign(1, "c0")},
       |${kmUpdate(1, "c0", "a1")},
       |${kmAssign(2, "c1")},
       |${kmUpdate(2, "c1", "a2")},
       |${kmAssign(3, "c2")},
       |${kmUpdate(3, "c2", "a3")},
       |${kmAssign(4, "c3")}""".stripMargin

  /** Farthest-first rounds unrolled: pick_r = argmax of the maintained
    * min-distance, then fold the new center in via LEAST. */
  private val kcenterCtes: String = {
    def round(r: Int): String =
      s"""p$r AS (SELECT vec_id, m FROM m${r - 1} ORDER BY m DESC, vec_id LIMIT 1),
         |c$r AS (SELECT idx, x6 AS c6 FROM x JOIN p$r ON x.vec_id = p$r.vec_id),
         |d$r AS (SELECT v.vec_id, SUM((v.x6 - c.c6) * (v.x6 - c.c6)) AS d
         |  FROM x v JOIN c$r c USING (idx) GROUP BY 1),
         |m$r AS (SELECT m${r - 1}.vec_id, LEAST(m${r - 1}.m, d$r.d) AS m
         |  FROM m${r - 1} JOIN d$r USING (vec_id))""".stripMargin
    s"""WITH x AS (SELECT vec_id, i AS idx,
       |    CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) + 1000000 AS x6
       |  FROM embeddings, generate_series(1, 64) s(i)),
       |s1 AS (SELECT MIN(vec_id) AS id FROM x),
       |c1 AS (SELECT idx, x6 AS c6 FROM x JOIN s1 ON x.vec_id = s1.id),
       |m1 AS (SELECT v.vec_id, SUM((v.x6 - c.c6) * (v.x6 - c.c6)) AS m
       |  FROM x v JOIN c1 c USING (idx) GROUP BY 1),
       |${round(2)},
       |${round(3)},
       |${round(4)},
       |r AS (SELECT vec_id, m FROM m4 ORDER BY m DESC, vec_id LIMIT 1)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "x2_kcenter_seed" ->
      s"""$kcenterCtes
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS rk, s1.id AS vec_id, CAST(0 AS BIGINT) AS sel_d2 FROM s1
         |  UNION ALL SELECT 2, vec_id, CAST(m AS BIGINT) FROM p2
         |  UNION ALL SELECT 3, vec_id, CAST(m AS BIGINT) FROM p3
         |  UNION ALL SELECT 4, vec_id, CAST(m AS BIGINT) FROM p4
         |  UNION ALL SELECT 5, vec_id, CAST(m AS BIGINT) FROM r)
         |ORDER BY rk""".stripMargin,

    "x2_kmeans" ->
      s"""$kmeansCtes,
         |kstats AS (SELECT cid AS cluster, COUNT(*) AS n,
         |    CAST(SUM(d2) AS BIGINT) AS inertia
         |  FROM a4 WHERE rk = 1 GROUP BY 1),
         |ck AS (SELECT cid AS cluster, CAST(SUM(c6 * idx) AS BIGINT) AS c_checksum
         |  FROM c3 GROUP BY 1)
         |SELECT k.cluster, k.n, k.inertia, ck.c_checksum
         |FROM kstats k JOIN ck USING (cluster) ORDER BY cluster""".stripMargin,

    "x2_semantic_dedup" ->
      s"""$kmeansCtes,
         |asg AS (SELECT vec_id, cid FROM a4 WHERE rk = 1),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM embeddings),
         |p AS (SELECT a.cid, b.vec_id AS idb,
         |    CAST(ROUND(list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm) * 1000000) AS BIGINT) AS sim6
         |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id),
         |d AS (SELECT DISTINCT cid, idb FROM p WHERE sim6 >= 450000),
         |ds AS (SELECT cid, COUNT(*) AS n_drop, CAST(SUM(idb) AS BIGINT) AS drop_sum
         |  FROM d GROUP BY 1),
         |sz AS (SELECT cid, COUNT(*) AS n FROM asg GROUP BY 1)
         |SELECT sz.cid AS cluster, sz.n, sz.n - COALESCE(ds.n_drop, 0) AS n_kept,
         |  COALESCE(ds.drop_sum, 0) AS drop_sum
         |FROM sz LEFT JOIN ds ON sz.cid = ds.cid ORDER BY cluster""".stripMargin,

    "x2_pq_encode" ->
      s"""$pqCtes
         |SELECT vec_id, CAST(SUM((m+1)*(code+1)) AS BIGINT) AS code_checksum,
         |  CAST(SUM(d2) AS BIGINT) AS q_err
         |FROM pa3 WHERE rk = 1 GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "x2_pq_adc_topk" ->
      s"""$pqCtes,
         |lut AS (SELECT c.m, c.code, SUM((q.x6 - c.c6)*(q.x6 - c.c6)) AS d2
         |  FROM pc2 c JOIN px q ON q.vec_id = 0 AND q.m = c.m AND q.idx = c.idx
         |  GROUP BY 1, 2),
         |codes AS (SELECT vec_id, m, code FROM pa3 WHERE rk = 1 AND vec_id <> 0)
         |SELECT codes.vec_id AS vec_id, CAST(SUM(l.d2) AS BIGINT) AS adc_d2
         |FROM codes JOIN lut l ON codes.m = l.m AND codes.code = l.code
         |GROUP BY 1 ORDER BY adc_d2, vec_id LIMIT 10""".stripMargin,

    "x2_matryoshka" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |s AS (SELECT vec_id,
        |  round(list_dot_product(v, qv) /
        |        (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim,
        |  round(list_dot_product(v[1:32], qv[1:32]) /
        |        (sqrt(list_dot_product(v[1:32], v[1:32])) * sqrt(list_dot_product(qv[1:32], qv[1:32]))), 6) AS sim32
        |  FROM e, q WHERE vec_id <> 0),
        |top AS (SELECT * FROM s ORDER BY sim DESC, vec_id LIMIT 10),
        |t32 AS (SELECT vec_id FROM s ORDER BY sim32 DESC, vec_id LIMIT 10)
        |SELECT top.vec_id AS vec_id, sim, sim32, t32.vec_id IS NOT NULL AS in_trunc_top10
        |FROM top LEFT JOIN t32 ON top.vec_id = t32.vec_id
        |ORDER BY sim DESC, top.vec_id""".stripMargin,

    "x2_hard_negatives" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |           FROM embeddings),
        |q AS (SELECT vec_id AS q, v AS qv, nrm AS qn FROM e WHERE vec_id < 5),
        |s AS (SELECT q.q, e.vec_id AS cand,
        |        CAST(ROUND(list_dot_product(e.v, q.qv) / (e.nrm * q.qn) * 1000000) AS BIGINT) AS sim6
        |      FROM e, q WHERE e.vec_id <> q.q),
        |f AS (SELECT *, row_number() OVER (PARTITION BY q ORDER BY sim6 DESC, cand) AS rk
        |      FROM s WHERE sim6 < 450000)
        |SELECT q, CAST(rk AS BIGINT) AS rk, cand, sim6 FROM f WHERE rk <= 3 ORDER BY q, rk""".stripMargin,

    "x2_ann_topk" -> TopkOracleSql,
    "x2_sq_topk" -> TopkOracleSql,
    "x2_bq_topk" -> TopkOracleSql,

    "x2_norm_audit" ->
      """WITH x AS (SELECT label,
        |    CAST(list_sum([CAST(ROUND(v * 1000000) AS BIGINT) * CAST(ROUND(v * 1000000) AS BIGINT)
        |      FOR v IN embedding::DOUBLE[]]) AS BIGINT) AS n2
        |  FROM embeddings)
        |SELECT label, COUNT(*) AS n, MIN(n2) AS min_n2, MAX(n2) AS max_n2,
        |  CAST(SUM(n2) // COUNT(*) AS BIGINT) AS avg_n2
        |FROM x GROUP BY 1 ORDER BY label""".stripMargin,

    "x2_centroid_drift" ->
      """WITH x AS (SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS idx,
        |    CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) + 1000000 AS x6
        |  FROM embeddings, generate_series(1, 64) s(i)),
        |h AS (SELECT label, idx,
        |    SUM(CASE WHEN vec_id % 2 = 0 THEN x6 END) AS s1,
        |    COUNT(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS n1,
        |    SUM(CASE WHEN vec_id % 2 = 1 THEN x6 END) AS s2,
        |    COUNT(CASE WHEN vec_id % 2 = 1 THEN 1 END) AS n2
        |  FROM x GROUP BY 1, 2)
        |SELECT label, idx,
        |  CAST(CASE WHEN (s1 * n2 - s2 * n1) < 0
        |    THEN -((-(s1 * n2 - s2 * n1) * 1000000) // (n1 * n2))
        |    ELSE ((s1 * n2 - s2 * n1) * 1000000) // (n1 * n2) END AS BIGINT) AS drift6
        |FROM h WHERE n1 > 0 AND n2 > 0
        |ORDER BY label, idx""".stripMargin,

    "x2_mips_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  CAST(ROUND(list_dot_product(embedding::DOUBLE[], q.qv) * 1000000) AS BIGINT) AS dot6
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY dot6 DESC, vec_id LIMIT 10""".stripMargin,

    // indexed MIPS shares the brute-force oracle: the augmented-IVF
    // funnel must be answer-identical (recall 1.0 at the shipped
    // shortlist/nprobe, pinned per sf by MipsIndexedSpec)
    "x2_mips_indexed" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  CAST(ROUND(list_dot_product(embedding::DOUBLE[], q.qv) * 1000000) AS BIGINT) AS dot6
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY dot6 DESC, vec_id LIMIT 10""".stripMargin,

    // brute-force per-query INNER-PRODUCT top-5 — the batched MIPS
    // funnel must reproduce it exactly
    "x2_mips_batch" ->
      """WITH q AS (SELECT vec_id AS q, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
        |p AS (SELECT q.q, e.vec_id,
        |    CAST(ROUND(list_dot_product(e.embedding::DOUBLE[], q.qv) * 1000000) AS BIGINT) AS dot6
        |  FROM embeddings e, q WHERE e.vec_id <> q.q),
        |r AS (SELECT q, vec_id, dot6,
        |    row_number() OVER (PARTITION BY q ORDER BY dot6 DESC, vec_id) AS rk
        |  FROM p)
        |SELECT q, CAST(rk AS BIGINT) AS rk, vec_id, dot6 FROM r
        |WHERE rk <= 5 ORDER BY q, rk""".stripMargin,

    // the label-pruned read + exact re-rank must equal the brute
    // filtered ranking (recall 1.0 by construction)
    "x2_filtered_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |round(list_dot_product(embedding::DOUBLE[], q.qv) /
        |      (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
        |FROM embeddings, q WHERE vec_id <> 0 AND label = 1
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    "x2_eval_recall" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |           FROM embeddings),
        |q AS (SELECT vec_id AS q, v AS qv, nrm AS qn FROM e WHERE vec_id < 20),
        |gt0 AS (SELECT q.q, e.vec_id,
        |    CAST(ROUND(list_dot_product(e.v, q.qv) / (e.nrm * q.qn) * 1000000) AS BIGINT) AS sim6
        |  FROM e, q WHERE e.vec_id <> q.q),
        |gt AS (SELECT q, vec_id, grk FROM (
        |    SELECT q, vec_id, row_number() OVER (PARTITION BY q ORDER BY sim6 DESC, vec_id) AS grk
        |    FROM gt0) WHERE grk <= 10),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
        |c AS (SELECT vec_id,
        |    CASE WHEN ma > 0 THEN [CAST(floor(x * 127 / ma + 0.5) AS BIGINT) FOR x IN v]
        |         ELSE [CAST(0 AS BIGINT) FOR x IN v] END AS code FROM m),
        |cs AS (SELECT vec_id, code, CAST(list_sum([x * x FOR x IN code]) AS BIGINT) AS csq FROM c),
        |qc AS (SELECT vec_id AS q, code AS qcode, csq AS qsq FROM cs WHERE vec_id < 20),
        |sys0 AS (SELECT qc.q, cs.vec_id,
        |    list_dot_product(cs.code::DOUBLE[], qc.qcode::DOUBLE[]) / sqrt(cs.csq * qc.qsq) AS approx
        |  FROM cs, qc WHERE cs.vec_id <> qc.q),
        |sys AS (SELECT q, vec_id, srk FROM (
        |    SELECT q, vec_id, row_number() OVER (PARTITION BY q ORDER BY approx DESC, vec_id) AS srk
        |    FROM sys0) WHERE srk <= 10)
        |SELECT gt.q, COUNT(sys.srk) AS n_hits,
        |  CAST(COALESCE(MAX(CASE WHEN gt.grk = 1 THEN 1000000 // sys.srk END), 0) AS BIGINT) AS rr_ppm
        |FROM gt LEFT JOIN sys ON sys.q = gt.q AND sys.vec_id = gt.vec_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x2_knn_within_label" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
        |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |           FROM embeddings),
        |p AS (SELECT a.vec_id, a.label, b.vec_id AS nb_id,
        |        CAST(ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1000000) AS BIGINT) AS sim6
        |      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
        |r AS (SELECT vec_id, label, nb_id, sim6,
        |        row_number() OVER (PARTITION BY vec_id ORDER BY sim6 DESC, nb_id) AS rk
        |      FROM p)
        |SELECT vec_id, label, rk, nb_id, sim6 FROM r
        |WHERE rk <= 3 ORDER BY vec_id, rk""".stripMargin,
    "x2_ivf_topk" -> TopkOracleSql,
    // kmeans||-seeded index must serve the same exact top-10
    // (ScalableSeedsSpec pins shortlist ⊇ truth per sf at nprobe=12)
    "x2_ivf_scalable_topk" -> TopkOracleSql,
    "x2_ivfpq_topk" -> TopkOracleSql,
    // the half-built + folded index must serve the exact full-corpus
    // ranking (lost folds / double-indexing / mis-assignment all
    // break the hash)
    "x2_ivf_fold_topk" -> TopkOracleSql,
    // erasure: the served ranking is the brute-force top-10 over the
    // SURVIVING corpus only — a deleted id appearing (or a survivor
    // missing) breaks the hash
    "x2_ivf_delete_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |round(list_dot_product(embedding::DOUBLE[], q.qv) /
        |      (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
        |FROM embeddings, q WHERE vec_id <> 0 AND vec_id % 17 <> 3
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    // brute-force per-query top-5 over the batch — the gate proves the
    // one-pass pruned-postings batch probe has recall 1.0
    "x2_ivf_batch_topk" -> batchTopkOracle,
    // the one-pass batched int8-code funnel must reproduce the same
    // exact per-query top-5 (recall 1.0 through shortlist + re-rank)
    "x2_sq_batch_topk" -> batchTopkOracle,
    // the batched LSH probe must reproduce the exact brute-force
    // batch ranking — candidate recall 1.0 through the bucket index
    "x2_ann_batch_topk" -> batchTopkOracle,

    // batch ADC: per-query LUT from the replayed codebook, every
    // code row scored against all 5 queries, rank per query
    "x2_adc_batch_topk" ->
      s"""$pqCtes,
         |lut AS (SELECT q.vec_id AS q, c.m, c.code, SUM((q.x6 - c.c6)*(q.x6 - c.c6)) AS d2
         |  FROM pc2 c JOIN px q ON q.vec_id < 5 AND q.m = c.m AND q.idx = c.idx
         |  GROUP BY 1, 2, 3),
         |codes AS (SELECT vec_id, m, code FROM pa3 WHERE rk = 1),
         |scored AS (SELECT l.q, codes.vec_id, CAST(SUM(l.d2) AS BIGINT) AS adc_d2
         |  FROM codes JOIN lut l ON codes.m = l.m AND codes.code = l.code
         |    AND codes.vec_id <> l.q
         |  GROUP BY 1, 2),
         |rb AS (SELECT q, vec_id, adc_d2,
         |    row_number() OVER (PARTITION BY q ORDER BY adc_d2, vec_id) AS rk
         |  FROM scored)
         |SELECT q, CAST(rk AS BIGINT) AS rk, vec_id, adc_d2 FROM rb
         |WHERE rk <= 5 ORDER BY q, rk""".stripMargin,
    "x2_centroid_classify" ->
      """WITH x AS (SELECT vec_id, label, i AS idx,
        |    CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) + 1000000 AS x6
        |  FROM embeddings, generate_series(1, 64) s(i)),
        |c AS (SELECT label AS c_label, idx,
        |    CAST((2*SUM(x6) + COUNT(*)) // (2*COUNT(*)) AS BIGINT) AS c6
        |  FROM x GROUP BY 1, 2),
        |d AS (SELECT x.vec_id, x.label, c.c_label,
        |    CAST(SUM((x.x6 - c.c6)*(x.x6 - c.c6)) AS BIGINT) AS d2
        |  FROM x JOIN c USING (idx) GROUP BY 1, 2, 3),
        |p AS (SELECT vec_id, label, c_label,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rk
        |  FROM d)
        |SELECT label AS true_label, c_label AS pred_label, COUNT(*) AS n
        |FROM p WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // recursive-CTE greedy MMR: the picks list grows one argmax per
    // step; every float rounds to int64 (rel6/sim6) before the greedy
    // compares anything, so both engines tie-break identically
    "x2_mmr_topk" ->
      """WITH RECURSIVE
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |short AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |    CAST(ROUND(list_dot_product(embedding::DOUBLE[], q.qv) /
        |      (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(q.qv, q.qv))) * 1000000) AS BIGINT) AS rel6
        |  FROM embeddings, q WHERE vec_id <> 0
        |  ORDER BY rel6 DESC, vec_id LIMIT 20),
        |pairs AS (SELECT a.vec_id AS i, b.vec_id AS j,
        |    CAST(ROUND(list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) * 1000000) AS BIGINT) AS sim6
        |  FROM short a JOIN short b ON a.vec_id <> b.vec_id),
        |sel(step, picks) AS (
        |  SELECT 1, [(SELECT vec_id FROM short ORDER BY rel6 DESC, vec_id LIMIT 1)]
        |  UNION ALL
        |  SELECT step + 1, list_append(picks, (
        |      SELECT c.vec_id FROM short c WHERE NOT list_contains(picks, c.vec_id)
        |      ORDER BY c.rel6 - (SELECT MAX(p.sim6) FROM pairs p
        |                         WHERE p.i = c.vec_id AND list_contains(picks, p.j)) DESC,
        |               c.vec_id
        |      LIMIT 1))
        |  FROM sel WHERE step < 5),
        |fin AS (SELECT picks FROM sel WHERE step = 5),
        |ranked AS (SELECT g.i AS rk, fin.picks[g.i] AS vec_id
        |           FROM fin, generate_series(1, 5) AS g(i))
        |SELECT CAST(r.rk AS BIGINT) AS rk, r.vec_id, s.rel6
        |FROM ranked r JOIN short s ON s.vec_id = r.vec_id
        |ORDER BY rk""".stripMargin,

    "x2_range_search" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |sims AS (
        |  SELECT vec_id,
        |    list_dot_product(embedding::DOUBLE[], q.qv) /
        |    (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(q.qv, q.qv))) AS sim_raw
        |  FROM embeddings, q WHERE vec_id <> 0)
        |SELECT vec_id, round(sim_raw, 6) AS sim FROM sims
        |WHERE sim_raw >= 0.25
        |ORDER BY sim DESC, vec_id""".stripMargin,

    "x2_quantize_int8" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
        |q AS (SELECT vec_id,
        |      CASE WHEN ma > 0 THEN [CAST(floor(x * 127 / ma + 0.5) AS BIGINT) FOR x IN v]
        |           ELSE [CAST(0 AS BIGINT) FOR x IN v] END AS qa FROM m)
        |SELECT vec_id, CAST(len(qa) AS BIGINT) AS n_dims,
        |  CAST(COALESCE(list_sum([qa[i] * i FOR i IN range(1, len(qa) + 1)]), 0) AS BIGINT) AS checksum,
        |  CAST(len(list_filter(qa, x -> abs(x) = 127)) AS BIGINT) AS n_sat
        |FROM q ORDER BY vec_id""".stripMargin,

    "x2_centroid_exact" ->
      """SELECT label, CAST(i - 1 AS BIGINT) AS idx,
        |CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) AS c_sum,
        |COUNT(*) AS n
        |FROM embeddings, generate_series(1, 64) s(i)
        |GROUP BY label, i ORDER BY label, idx""".stripMargin,

    // the typed-Aggregator centroid, quantized to exact integers: the
    // engine's round(mean·n) reconstructs the integer sum exactly, so
    // both engines land on the same BIGINT (see the query's comment)
    "x2_centroid_agg" ->
      """SELECT label, CAST(i - 1 AS BIGINT) AS idx,
        |CAST(SUM(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000)) AS BIGINT) AS c_sum6,
        |COUNT(*) AS n
        |FROM embeddings, generate_series(1, 64) s(i)
        |GROUP BY label, i ORDER BY label, idx""".stripMargin
  )
}
