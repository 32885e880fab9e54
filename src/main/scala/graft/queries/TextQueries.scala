package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis._
import graft.sources.Tables

/** Text-analysis queries over `documents` (SURVEY §2 X3 / north-star
  * training-data ops). Single-pass, codegen'd, exactly mirrored in
  * DuckDB SQL. */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Cache key for the persisted text index: sf dir name + fingerprint
    * of documents.parquet (length ⊕ mtime) — same convention as the
    * vector indexes, so a regenerated corpus abandons stale indexes
    * instead of silently serving an oracle-gated query. */
  private def docsKey(s: SparkSession, dir: String): String =
    Tables.fileKey(s, dir, "documents.parquet")

  /** The shared persisted keyword index, built on first use. v2 = index
    * FORMAT version (v2 added doclen + total_tokens for BM25) — bump on
    * layout change or a stale index poisons oracle-gated probes. */
  private def kwIndex(s: SparkSession, dir: String): graft.operators.TableStore = {
    val store = new graft.operators.TableStore(
      s"${Tables.TmpRoot}/text-index/v4/${docsKey(s, dir)}")
    if (!store.exists(s, "kw_postings"))
      graft.operators.TextIndex.build(Tables.documents(s, dir), "doc_id", "text", store, "kw")
    store
  }

  val all: Map[String, Q] = Map(
    // ---- heuristic language ID: confusion matrix vs the label ------
    "x3_lang_id" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("lang"), langId(col("text")).as("predicted"))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    }),

    // ---- per-doc quality features + gate ----------------------------
    "x3_quality" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens"),
          alphaPct(col("text")).as("alpha_pct"),
          punctCount(col("text")).as("n_punct"),
          isGoodDoc(col("text")).as("is_good"))
        .orderBy("doc_id")
    }),

    // ---- BPE-ish pre-token counts by language -----------------------
    "x3_bpe_tokens" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("lang"), bpeishCount(col("text")).as("n_bpe"),
          size(tokens(col("text"))).cast("long").as("n_ws"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_bpe").as("total_bpe"),
          sum("n_ws").as("total_ws"))
        .orderBy("lang")
    }),

    // ---- content-hash train/test split (deterministic, cross-engine)
    "x3_train_test_split" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          graft.operators.Sampling.splitColumn(col("text")).as("split"))
        .groupBy("lang", "split").agg(count(lit(1)).as("n"))
        .orderBy("lang", "split")
    }),

    // ---- split-balance QA: per-stratum drift of the hash split ------
    // Is the content-hash split representative per language? Reports
    // each lang's train share against the corpus-wide share as an
    // integer-scaled ppm deviation — exact arithmetic end to end, so
    // the drift numbers hash-match, not just eyeball-match. A biased
    // stratum here means contamination-style skew downstream; the
    // check is one pass + a broadcast of two global counts.
    "x3_split_balance" -> ((s, dir) => {
      val by = Tables.documents(s, dir)
        .select(col("lang"), graft.operators.Sampling.splitColumn(col("text")).as("split"))
        .groupBy("lang")
        .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
      val g = by.agg(sum(col("n_train")).as("g_train"),
        sum(col("n_train") + col("n_test")).as("g_total"))
      by.crossJoin(broadcast(g))
        .withColumn("skew_ppm", abs(
          expr("n_train * 1000000 div (n_train + n_test)") -
            expr("g_train * 1000000 div g_total")))
        .select(col("lang"), col("n_train"), col("n_test"), col("skew_ppm"))
        .orderBy("lang")
    }),

    // ---- RAG-style document chunking (overlapping token windows) ----
    // Fixed windows of 32 tokens at stride 16 per doc — the embed/RAG
    // preprocessing shape. Pure generator over the scan (no shuffle
    // until the ordered output); chunk fingerprints are md5 so the
    // oracle hash is exact. Bound-lambda idiom: the token array binds
    // once, chunk construction never re-tokenizes.
    "x3_chunking" -> ((s, dir) => {
      val chunks = element_at(
        transform(array(tokens(col("text"))), w =>
          transform(sequence(lit(0L), floor((size(w) - lit(1)) / lit(16))),
            k => struct(
              least(lit(32), size(w) - k * 16).as("n_tok"),
              md5(concat_ws(" ", slice(w, k * 16 + 1, lit(32))).cast("binary")).as("fp")))),
        1)
      Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_id", "c")))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("c.n_tok").cast("long").as("n_tok"), col("c.fp").as("fp"))
        .orderBy("doc_id", "chunk_id")
    }),

    // ---- keyword search: PERSISTED inverted index + tf-idf ----------
    // The retrieval half of a RAG pipeline as build-once / probe-many
    // (the text sibling of the persisted ANN/IVF indexes): one corpus
    // scan builds term-sorted postings + df + stats tables; a probe
    // reads only its terms' postings (pushed IN-filter over the sorted
    // layout), broadcasts the df rows, and shuffles nothing
    // corpus-sized. Same integer-scaled idf scoring as before — the
    // oracle recomputes from raw text and must still hash-match, which
    // gates the index build itself (lost/duplicated postings would
    // shift scores). v1 = index format version; the fingerprint
    // abandons stale indexes if testdata regenerates in place.
    "x3_keyword_search" -> ((s, dir) => {
      val store = kwIndex(s, dir)
      graft.operators.TextIndex.search(s, store, "kw",
        Seq("vector", "stream", "merge"), k = 20)
    }),

    // ---- BM25-shaped ranking over the same persisted index ----------
    // Saturating tf + doc-length normalization — the ranking that
    // separates "mentions the term" from "is about the term". Per-term
    // scores round to scaled integers BEFORE the per-doc sum, so the
    // aggregate is exact integer addition and the oracle hash-matches
    // regardless of aggregation order.
    "x3_bm25_search" -> ((s, dir) => {
      val store = kwIndex(s, dir)
      graft.operators.TextIndex.bm25Search(s, store, "kw",
        Seq("vector", "stream", "merge"), k = 20)
    }),

    // ---- X3: GDPR erasure from the text index ------------------------
    // The right-to-be-forgotten path for SEARCH (Ivf.remove's text
    // sibling): every doc_id ≡ 3 (mod 7) is tombstoned — ONE atomic
    // commit of the cumulative delete set, no rewrite of the
    // term-partitioned postings — and the post-erasure BM25 probe must
    // hash-match DuckDB scoring an index that NEVER SAW the erased
    // docs (same text as x3_bm25_search with the survivor filter): the
    // tombstone anti-join, the derived surviving df, and the corrected
    // n_docs/total_tokens are each load-bearing for the hash, so this
    // gate proves exact surviving-corpus semantics, not Lucene's
    // drift-until-merge approximation. Dedicated store (erasure
    // mutates); the repeated remove on a warm store is an idempotent
    // no-op (returns 0), so bench passes don't re-delete.
    "x3_search_erasure" -> ((s, dir) => {
      val store = new graft.operators.TableStore(
        s"${Tables.TmpRoot}/text-index-erase/v1/${docsKey(s, dir)}")
      if (!store.exists(s, "kw_postings"))
        graft.operators.TextIndex.build(
          Tables.documents(s, dir), "doc_id", "text", store, "kw")
      graft.operators.TextIndex.remove(s, store, "kw",
        Tables.documents(s, dir).filter(col("doc_id") % 7 === 3).select("doc_id"),
        "doc_id")
      graft.operators.TextIndex.bm25Search(s, store, "kw",
        Seq("vector", "stream", "merge"), k = 20)
    }),

    // ---- BM25 hard-negative mining (dedup-aware) ---------------------
    // The retrieval-training op that joins the two index families:
    // contrastive training needs, per positive doc, the top lexically-
    // similar NON-duplicates — BM25 retrieves "hard", the near-dup
    // clusters veto "false negative" (a near-dup of q carries q's top
    // terms, so unexcluded it sits at rank 1 and the loss pushes a
    // true positive away). Queries = the 8 smallest doc ids that HAVE
    // near-dup mates (so the exclusion is provably load-bearing —
    // n_excluded, oracle-pinned, counts the cluster-mates vetoed per
    // query); query terms = each doc's top-3 tokens (len ≥ 4) by tf.
    // Plan: one batched probe over the union of the 24 query terms'
    // posting lists (`bm25SearchBatch` — the text sibling of the
    // batched IVF/ADC/SQ funnels), cluster labels off the persisted
    // pair store, ranking windows partitioned PER QUERY over that
    // query's candidates. Nothing corpus-sized shuffles or sorts.
    "x3_bm25_negatives" -> ((s, dir) => {
      import s.implicits._
      val store = kwIndex(s, dir)
      val docs = Tables.documents(s, dir)
      val pairs = DedupQueries.nearDupPairs(s, dir).select("idA", "idB")
      val qdocs = pairs.select($"idA".as("q_doc"))
        .unionByName(pairs.select($"idB".as("q_doc")))
        .distinct().orderBy($"q_doc").limit(8)
      val qtf = docs.join(qdocs, docs("doc_id") === qdocs("q_doc"))
        .select($"q_doc", explode(tokens($"text")).as("term"))
        .filter(length($"term") >= 4)
        .groupBy($"q_doc", $"term").agg(count(lit(1)).as("qtf"))
      val wq = Window.partitionBy($"q_doc").orderBy($"qtf".desc, $"term")
      val qsel = qtf.withColumn("r", row_number().over(wq)).filter($"r" <= 3)
        .select($"q_doc".as("q_id"), $"term")
      val scored = graft.operators.TextIndex.bm25SearchBatch(s, store, "kw", qsel)
      val labels = graft.operators.Dedup.clusterLabelsStar(docs, "doc_id", pairs)
        .select(col("id").as("doc_id"), col("cluster"))
      val tagged = scored
        .join(labels.toDF("doc_id", "cl_c"), Seq("doc_id"))
        .join(labels.toDF("q_id", "cl_q"), Seq("q_id"))
        .withColumn("same_cl", $"cl_c" === $"cl_q")
      val nExcl = tagged.groupBy($"q_id")
        .agg(sum(when($"same_cl" && $"doc_id" =!= $"q_id", 1L).otherwise(0L))
          .as("n_excluded"))
      val wr = Window.partitionBy($"q_id").orderBy($"score".desc, $"doc_id")
      tagged.filter(!$"same_cl")
        .withColumn("rank", row_number().over(wr).cast("long"))
        .filter($"rank" <= 5)
        .join(nExcl, Seq("q_id"))
        .select($"q_id".as("q_doc"), $"rank", $"doc_id".as("neg_doc"),
          $"score", $"n_excluded")
        .orderBy("q_doc", "rank")
    }),

    // ---- phrase query over the positional index ---------------------
    // "table hash" as an exact-adjacency phrase: each term's leg reads
    // ONLY its (doc_id, pos) postings (pushed scan filter over the
    // term-sorted layout), normalizes to the phrase start (pos − i),
    // and the legs equi-join on (doc_id, start) — the IR-textbook
    // positional intersection, per-query cost proportional to the two
    // probed posting lists at any corpus size. Overlapping occurrences
    // count individually; the oracle re-derives every adjacency from
    // raw text, so lost or off-by-one positions break the hash.
    "x3_phrase_search" -> ((s, dir) => {
      val store = kwIndex(s, dir)
      graft.operators.TextIndex.phraseSearch(s, store, "kw",
        Seq("table", "hash"), k = 20)
    }),

    // ---- Zipf curve: token frequency × rank -------------------------
    // The corpus-linguistics sanity card: natural text keeps
    // freq·rank roughly constant; a synthetic or deduplicated-to-
    // death corpus bends the curve. Top-50 tokens by frequency with
    // the exact integer freq·rank product — rank ≤ 50 lowers to
    // TakeOrderedAndProject, the product needs no floats.
    "x3_zipf_curve" -> ((s, dir) => {
      import s.implicits._
      val freq = Tables.documents(s, dir)
        .select(explode(tokens($"text")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("freq"))
        .orderBy($"freq".desc, $"tok").limit(50)
      freq.withColumn("rank", row_number().over(
          Window.orderBy($"freq".desc, $"tok")).cast("long"))
        .select($"rank", $"tok", $"freq", ($"freq" * $"rank").as("fr"))
        .orderBy($"rank")
    }),

    // ---- feature hashing: 64-dim hashed bag-of-words vectors --------
    // The trick that turns unbounded vocabularies into fixed-width
    // features without a dictionary (Weinberger et al. 2009): dim =
    // md5 bucket of the token (the DSIR bucketing discipline — md5 is
    // the cross-engine-stable hash), value = token count. Sparse
    // (doc, dim, x) rows for a 40-doc slice; the full-corpus form is
    // the same one explode + aggregate, and the output feeds the X2
    // vector operators directly. Collisions are the method's point —
    // both engines collide identically.
    "x3_hash_embed" -> ((s, dir) => {
      import s.implicits._
      // Plain scan (VERDICT r13 wrong #1): the 40-doc slice never uses
      // the fan-out parallelism — the exchange was pure tax
      Tables.documentsPlain(s, dir).filter($"doc_id" < 40)
        .select($"doc_id", explode(tokens($"text")).as("tok"))
        .select($"doc_id",
          expr("CAST(conv(substring(md5(CAST(tok AS BINARY)), 1, 4), 16, 10) AS INT) % 64")
            .cast("long").as("dim"))
        .groupBy($"doc_id", $"dim").agg(count(lit(1)).as("x"))
        .orderBy("doc_id", "dim")
    }),

    // ---- collocation mining: bigram lift in integer ppm -------------
    // Which adjacent token pairs co-occur more than independence
    // predicts — the collocation statistic phrase-aware tokenizers
    // and stopword lists are tuned with. PMI's log is not cross-
    // engine bit-stable, so the statistic is LIFT in exact integer
    // ppm: n(ab)·N·10⁶ div (n(a)·n(b)), numerator routed through
    // DECIMAL(38,0) (the a14 discipline). One token explode feeds
    // both the unigram and bigram counts; min-support 20 keeps the
    // report statistical, top-25 by lift with a total tie order.
    "x3_collocations" -> ((s, dir) => {
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .select($"doc_id", posexplode(graft.functions.TextAnalysis.tokens($"text")).as(Seq("pos", "tok")))
        .localCheckpoint()
      val uni = toks.groupBy($"tok").agg(count(lit(1)).as("n1"))
      val n = toks.agg(count(lit(1)).as("nn"))
      val bi = toks.select($"doc_id", $"pos", $"tok".as("a"))
        .join(toks.select($"doc_id", ($"pos" - 1).as("pos"), $"tok".as("b")),
          Seq("doc_id", "pos"))
        .groupBy($"a", $"b").agg(count(lit(1)).as("nab"))
        .filter($"nab" >= 20)
      bi.join(uni.select($"tok".as("a"), $"n1".as("na")), Seq("a"))
        .join(uni.select($"tok".as("b"), $"n1".as("nb")), Seq("b"))
        .crossJoin(broadcast(n))
        .withColumn("lift_ppm",
          expr("(cast(nab as decimal(38,0)) * nn * 1000000) div (na * nb)"))
        .select($"a", $"b", $"nab", $"lift_ppm")
        .orderBy($"lift_ppm".desc, $"a", $"b")
        .limit(25)
    }),

    // ---- LM-perplexity quality scoring (CCNet-style) ----------------
    // THE classic pretraining quality filter (Wenzek et al., CCNet
    // 2020): score each document by its negative log-likelihood under
    // a reference language model — here the simplest real one, an
    // add-one-smoothed bigram LM trained on the even half of the
    // corpus, scoring the odd half. High avg NLL = out-of-domain /
    // garbled text, the rows a quality pipeline drops or buckets.
    // Exactness discipline: P(b|a) = (nab+1)/(na+V) is a ratio of
    // exact integers (V = train vocab, one scalar collect), each
    // bigram's ln is quantized to 1e-6 BEFORE summing — so the
    // per-doc sum is exact integer arithmetic, immune to double
    // accumulation order across partitions (the dsum lesson), and the
    // avg is integer `div` on non-negatives (truncate == floor in
    // both engines). Scale shape: train counts are vocab²-bounded
    // aggregates, scoring is two left joins on (a,b)/(a) — all
    // shuffles carry token pairs + longs, no windows, no collects
    // beyond V.
    "x3_perplexity" -> ((s, dir) => {
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .select($"doc_id", posexplode(graft.functions.TextAnalysis.tokens($"text")).as(Seq("pos", "tok")))
        .localCheckpoint()
      val bigrams = toks.select($"doc_id", $"pos", $"tok".as("a"))
        .join(toks.select($"doc_id", ($"pos" - 1).as("pos"), $"tok".as("b")),
          Seq("doc_id", "pos"))
      val train = bigrams.filter($"doc_id" % 2 === 0)
        .groupBy($"a", $"b").agg(count(lit(1)).as("nab"))
        .localCheckpoint()
      val heads = train.groupBy($"a").agg(sum($"nab").as("na"))
      // train vocab size: ONE bounded scalar collect (the LM's |V|)
      val vocab = toks.filter($"doc_id" % 2 === 0).select($"tok").distinct().count()
      bigrams.filter($"doc_id" % 2 === 1)
        .join(train, Seq("a", "b"), "left")
        .join(heads, Seq("a"), "left")
        .select($"doc_id", coalesce($"nab", lit(0L)).as("nab"),
          coalesce($"na", lit(0L)).as("na"))
        .withColumn("lp",
          expr(s"cast(round(ln((nab + 1) / cast(na + $vocab as double)) * 1000000) as bigint)"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("nb"), (-sum($"lp")).as("nll_u6"))
        .select($"doc_id", $"nb", $"nll_u6",
          expr("nll_u6 div nb").as("avg_nll_u6"))
        .orderBy($"doc_id")
    }),

    // ---- bigram next-token model (the simplest LM) ------------------
    // P(next | tok) as integer ppm over the corpus bigrams: for the
    // 10 most frequent head tokens, the top-3 continuations with
    // n(ab)·10⁶ div n(a·) probabilities (n(a·) = bigrams headed by a,
    // so rows per head sum to ≤ 1e6 exactly). Rank ≤ k lowers to
    // WindowGroupLimit; all exchanges carry (token, long) rows.
    "x3_bigram_lm" -> ((s, dir) => {
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .select($"doc_id", posexplode(graft.functions.TextAnalysis.tokens($"text")).as(Seq("pos", "tok")))
        .localCheckpoint()
      val bi = toks.select($"doc_id", $"pos", $"tok".as("a"))
        .join(toks.select($"doc_id", ($"pos" - 1).as("pos"), $"tok".as("b")),
          Seq("doc_id", "pos"))
        .groupBy($"a", $"b").agg(count(lit(1)).as("nab"))
      val heads = bi.groupBy($"a").agg(sum($"nab").as("na"))
        .orderBy($"na".desc, $"a").limit(10)
      val w = Window.partitionBy($"a").orderBy($"nab".desc, $"b")
      bi.join(broadcast(heads), Seq("a"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 3)
        .select($"a", $"rk", $"b", $"nab", expr("(nab * 1000000) div na").as("p_ppm"))
        .orderBy($"a", $"rk")
    }),

    // ---- proximity query over the same positional index -------------
    // "vector NEAR/5 merge": both terms within 5 positions, either
    // order — the relevance signal between bag-of-words and exact
    // phrase. Two positional legs, per-doc pair join bounded by the
    // posting sizes; reports pair count + closest distance. Oracle
    // re-derives every (pos_a, pos_b) pair from raw text.
    "x3_near_search" -> ((s, dir) => {
      val store = kwIndex(s, dir)
      graft.operators.TextIndex.nearSearch(s, store, "kw",
        "vector", "merge", window = 5, k = 20)
    }),

    // ---- BPE merge-rule training (3 unrolled rounds) ----------------
    // The tokenizer-training core: start from characters, repeatedly
    // merge the corpus-wide most frequent ADJACENT symbol pair
    // (occurrence-weighted by word frequency, ties lexicographic).
    // Scale shape: ONE corpus scan builds the (word, freq) table;
    // every merge round then works on the VOCABULARY (weighted by
    // freq), never the corpus — exactly how production BPE trainers
    // scale. The merge itself is greedy left-to-right non-overlapping,
    // implemented as plain string `replace` over a wrapped-symbol
    // encoding ("ab" → "<a><b>"; pair (A,B) matches "<A><B>" — wraps
    // make interior false matches impossible and both engines' replace
    // is the same greedy scan, so "aaa" merges to ["aa","a"] in both).
    // Scope: lowercase-alpha words (the wrap chars are then provably
    // absent). Output: the 3 chosen merge rules + the top-20 resulting
    // symbols by weighted count — any lost/extra/mis-ordered merge
    // shifts both sections of the hash.
    "x3_bpe_train" -> ((s, dir) => {
      import s.implicits._
      val words = Tables.documents(s, dir)
        .select(explode(graft.functions.TextAnalysis.tokens($"text")).as("word"))
        .filter($"word".rlike("^[a-z]+$"))
        .groupBy($"word").agg(count(lit(1)).as("freq"))
        .withColumn("enc", regexp_replace($"word", "(.)", "<$1>"))
        .localCheckpoint()
      val syms =
        split(expr("substring(enc, 2, length(enc) - 2)"), "><")
      def round1(enc: DataFrame): DataFrame = {
        val pairs = enc.withColumn("s", syms)
          .filter(size($"s") >= 2)
          .select($"freq", explode(expr(
            "transform(sequence(1, size(s) - 1), i -> struct(element_at(s, i) AS a, element_at(s, i + 1) AS b))")).as("p"))
          .groupBy($"p.a".as("a"), $"p.b".as("b")).agg(sum($"freq").as("c"))
        val top = pairs.orderBy($"c".desc, $"a", $"b").limit(1)
        enc.crossJoin(broadcast(top))
          .select($"word", $"freq",
            expr("replace(enc, '<' || a || '><' || b || '>', '<' || a || b || '>')").as("enc"),
            $"a", $"b", $"c")
          .localCheckpoint()
      }
      val e1 = round1(words)
      val e2 = round1(e1.select($"word", $"freq", $"enc"))
      val e3 = round1(e2.select($"word", $"freq", $"enc"))
      // every e_k row carries the same (a, b, c) — the broadcast top-1
      // pair — so distinct() is exactly one row per round
      val merges = e1.select(lit("merge").as("kind"), lit(1L).as("rk"),
          concat($"a", lit("+"), $"b").as("txt"), $"c".as("n")).distinct()
        .unionByName(e2.select(lit("merge").as("kind"), lit(2L).as("rk"),
          concat($"a", lit("+"), $"b").as("txt"), $"c".as("n")).distinct())
        .unionByName(e3.select(lit("merge").as("kind"), lit(3L).as("rk"),
          concat($"a", lit("+"), $"b").as("txt"), $"c".as("n")).distinct())
      val top20 = e3.withColumn("s", syms)
        .select($"freq", explode($"s").as("sym"))
        .groupBy($"sym").agg(sum($"freq").as("n"))
        .orderBy($"n".desc, $"sym").limit(20)
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy($"n".desc, $"sym")).cast("long"))
        .select(lit("symbol").as("kind"), $"rk", $"sym".as("txt"), $"n")
      merges.unionByName(top20).orderBy($"kind", $"rk")
    }),

    // ---- incrementally-maintained index: fold, then probe -----------
    // The index-maintenance story at corpus-growth scale: build over
    // the even half of the corpus, FOLD the odd half as a Lucene-style
    // segment (O(batch) — base postings never rewritten, publication
    // is one atomic segs-table commit; TextIndex.fold), then run the
    // SAME BM25 probe. Shares x3_bm25_search's oracle text verbatim:
    // the segmented index must be answer-identical to the one-shot
    // build over the full corpus — lost postings, double-counted df,
    // or stale stats would all shift scores and break the hash.
    "x3_index_incremental" -> ((s, dir) => {
      val store = new graft.operators.TableStore(
        s"${Tables.TmpRoot}/text-index-incr/v3/${docsKey(s, dir)}")
      // the warm-skip guard keys on kw_segs — the table fold() commits
      // LAST — not just the base build's kw_postings: a crash between
      // build() and fold() would otherwise leave an even-half-only
      // store that every later run trusts as complete, permanently
      // serving wrong BM25 answers. Rebuilding on a missing kw_segs is
      // safe: build() replaces the base tables idempotently and the
      // retried fold() overwrites its own orphan segment tables before
      // publishing (the TextIndex.fold commit contract).
      if (!store.exists(s, "kw_postings") || !store.exists(s, "kw_segs")) {
        val docs = Tables.documents(s, dir)
        graft.operators.TextIndex.build(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", store, "kw")
        graft.operators.TextIndex.fold(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", store, "kw")
      }
      graft.operators.TextIndex.bm25Search(s, store, "kw",
        Seq("vector", "stream", "merge"), k = 20)
    }),

    // ---- hybrid retrieval: reciprocal-rank fusion (RRF) -------------
    // The RAG-stack fusion step: the lexical leg (persisted-index BM25
    // top-20) and the vector leg (cosine top-20 vs query vec 0) merge
    // by RRF with the standard k=60 — score contribution = 10⁶ div
    // (60 + rank), INTEGER division, so fused scores hash-match.
    // Each leg is the already-scale-correct operator (pushed-IN index
    // probe; broadcast query vector); fusion itself touches 40 rows —
    // a full-outer join of two top-k lists, at any corpus size. */
    "x3_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.functions.Functions.register(s)
      val bm = graft.operators.TextIndex.bm25Search(s, kwIndex(s, dir), "kw",
          Seq("vector", "stream", "merge"), k = 20)
        .withColumn("r_lex",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id"), col("r_lex"))
      val emb = Tables.embeddings(s, dir)
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val vec = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          round(graft.functions.Functions.cosine(col("embedding"), col("qv")), 6).as("sim"))
        .orderBy(col("sim").desc, col("doc_id")).limit(20)
        .withColumn("r_vec",
          row_number().over(Window.orderBy(col("sim").desc, col("doc_id"))))
        .select(col("doc_id"), col("r_vec"))
      bm.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(expr("CAST(1000000 div (60 + r_lex) AS BIGINT)"), lit(0L)) +
            coalesce(expr("CAST(1000000 div (60 + r_vec) AS BIGINT)"), lit(0L))).as("rrf"),
          coalesce(col("r_lex"), lit(0)).cast("long").as("r_lex"),
          coalesce(col("r_vec"), lit(0)).cast("long").as("r_vec"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
    }),

    // ---- DSIR-style importance selection (Xie et al. 2023) ----------
    // Data Selection via Importance Resampling, made engine-exact: a
    // doc scores by how much its hashed-bigram profile looks like the
    // TARGET domain (source src0) vs the raw corpus. Per feature
    // bucket b (md5-hashed bigrams mod 1024), the add-one-smoothed
    // frequency ratio ((ct+1)(Nr+B)·10³) div ((cr+1)(Nt+B)) plays the
    // likelihood ratio in INTEGER arithmetic (a log would leave the
    // oracle's reach; ratio ranking is monotone in the same evidence);
    // a doc's score sums its buckets' weights with multiplicity, and
    // the top-25 is the selected batch. Plan: one gram explode feeds
    // BOTH distributions (sum(CASE) splits target/raw in a single
    // 1024-row aggregate); the weight table broadcasts; the only
    // corpus-scale exchanges carry (doc_id, bucket) ints. */
    "x3_dsir_select" -> ((s, dir) => {
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          explode(wordBigramsAll(col("text"))).as("gram"))
        .select(col("doc_id"), col("source"),
          expr("CAST(conv(substring(md5(CAST(gram AS BINARY)), 1, 4), 16, 10) AS INT) % 1024").as("b"))
      val perBucket = grams.groupBy("b").agg(
        count(lit(1)).as("cr"),
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ct"))
      val totals = perBucket.agg(sum("cr").as("nr"), sum("ct").as("nt"))
      // numerator in DECIMAL(38,0): (ct+1)(nr+1024)·10³ is O(nr²·10³)
      // in the worst bucket and would wrap BIGINT near nr≈3e6 grams —
      // far below corpus scale (non-ANSI Spark wraps silently, DuckDB
      // errors). Spark computes the exact decimal quotient (div on
      // decimals is still integral → BIGINT); the oracle routes the
      // numerator through HUGEINT, NOT decimal — DuckDB's // on
      // DECIMAL degrades to DOUBLE division and isn't even floored.
      val weights = perBucket.crossJoin(broadcast(totals))
        .select(col("b"),
          expr("(cast(ct + 1 as decimal(38,0)) * (nr + 1024) * 1000) div ((cr + 1) * (nt + 1024))").as("w"))
      grams.groupBy("doc_id", "b").agg(count(lit(1)).as("n"))
        .join(broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(sum(col("n") * col("w")).as("score"), sum("n").as("n_grams"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(25)
    }),

    // ---- corpus drift monitor (token-share ppm shift) ---------------
    // The training-data monitoring op: as a corpus rolls from one
    // generation to the next (here: the doc_id<400 base vs the
    // arriving batch, the x1_incremental_dedup split), report how the
    // unigram distribution moved. Per token in the overall top-30:
    // share in each generation as INTEGER ppm (count·10⁶ div total)
    // and the absolute drift. A spiking token is a scraper bug or an
    // injection; a flat report certifies the refresh. One explode +
    // one sum(CASE) aggregate + a 30-row ranked cut — at 100 TB the
    // only corpus-scale exchange carries (token, two longs). */
    "x3_corpus_drift" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select((col("doc_id") < 400).as("base"), explode(tokens(col("text"))).as("tok"))
      val counts = toks.groupBy("tok").agg(
        sum(when(col("base"), 1L).otherwise(0L)).as("c_base"),
        sum(when(col("base"), 0L).otherwise(1L)).as("c_new"))
      val totals = counts.agg(sum("c_base").as("t_base"), sum("c_new").as("t_new"))
      // top-30 cut is orderBy+limit (TakeOrderedAndProject: per-
      // partition heaps, no vocab-sized single-partition window)
      counts.orderBy((col("c_base") + col("c_new")).desc, col("tok")).limit(30)
        .crossJoin(broadcast(totals))
        .select(col("tok"),
          expr("c_base * 1000000 div t_base").as("ppm_base"),
          expr("c_new * 1000000 div t_new").as("ppm_new"),
          abs(expr("c_base * 1000000 div t_base") - expr("c_new * 1000000 div t_new")).as("drift_ppm"))
        .orderBy("tok")
    }),

    // ---- k-fold cross-validation assignment -------------------------
    "x3_kfold" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("lang"),
          graft.operators.Sampling.foldColumn(col("text"), 5).as("fold"))
        .groupBy("lang", "fold").agg(count(lit(1)).as("n"))
        .orderBy("lang", "fold")
    }),

    // ---- deterministic per-group sample (eval-set construction) -----
    // 3 docs per language, chosen by content-hash rank: re-run-stable,
    // engine-portable (md5 exists everywhere), and unbiased by storage
    // order — the standard way to carve a fixed human-eval set out of
    // a moving corpus. Window-ranks only within small per-lang
    // partitions; at 100 TB the same plan holds because the rank key
    // is computed in the scan and only k rows per group survive.
    "x3_sample_per_group" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang")).orderBy(md5(col("text").cast("binary")), col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("lang"), col("rk").cast("long").as("rk"), col("doc_id"))
        .orderBy("lang", "rk")
    }),

    // ---- weighted sample: integer systematic resampling -------------
    // ~20 docs drawn with probability proportional to token count —
    // the "sample long docs more" primitive behind training-mix
    // construction. Systematic scheme: order deterministically by
    // content hash, walk the cumulative weight, emit a doc whenever
    // the walk crosses a multiple of (totalW div 20). ALL integer
    // arithmetic — no rand(), no pow/ln — so unlike exponential
    // (A-ES) sampling this is exactly reproducible in any engine and
    // oracle-gated by hash, not by statistics. The cumulative walk is
    // the DISTRIBUTED two-pass prefix sum (Partitioning.prefixSum,
    // VERDICT r2 #2) bucketed by the leading 2 hex chars of the order
    // hash — 256-way parallel, no task ever holds the whole corpus
    // (the old global Window.orderBy put every row in ONE partition).
    "x3_weighted_sample" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          size(tokens(col("text"))).cast("long").as("w"),
          md5(col("text").cast("binary")).as("h"))
      val cum = graft.operators.Partitioning.prefixSum(d, Nil,
        substring(col("h"), 1, 2), Seq(col("h"), col("doc_id")), col("w"), "cw")
      val total = d.agg(sum(col("w")).as("tw"))
      cum.crossJoin(broadcast(total))
        .withColumn("step", expr("tw div 20"))
        .filter(expr("(cw div step) > ((cw - w) div step)"))
        .select(col("doc_id"), col("lang"), col("w"))
        .orderBy(col("doc_id"))
    }),

    // ---- vocabulary induction + corpus encoding ---------------------
    // The tokenizer-training primitive: build a frequency-ranked vocab
    // (top 64 tokens, count desc / token asc — deterministic), then
    // encode every document against it and report exact integer
    // encoding stats (token count, OOV count, position-weighted id
    // checksum). The top-64 selection is orderBy().limit(64) — a
    // TakeOrderedAndProject (partial top-k on every partition, 64-row
    // merge on the driver) — and only the 64 survivors are ranked by
    // the window. A web-scale vocabulary is itself 10^8+ distinct
    // tokens, so ranking the full aggregate in one unpartitioned
    // window would be a single-partition sort of all of them to keep
    // 64 (VERDICT r7 wrong #1); limit-before-rank is the x3_bpe_train
    // pattern. At 100 TB: one explode + two hash aggregates + a
    // broadcast join, all partial+final.
    "x3_vocab_encode" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(64)
        .withColumn("id",
          row_number().over(Window.orderBy(col("cnt").desc, col("tok"))) - 1)
        .select(col("tok"), col("id"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .select(col("doc_id"), col("pos"), coalesce(col("id"), lit(-1)).as("id"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("id") < 0, 1L).otherwise(0L)).as("n_oov"),
          sum((col("pos") + 1).cast("long") * (col("id") + 2).cast("long")).as("id_checksum"))
        .orderBy("doc_id")
    }),

    // ---- RAKE keyword extraction ------------------------------------
    // Rapid Automatic Keyword Extraction (Rose et al. 2010): candidate
    // phrases are maximal runs of content tokens between stopword /
    // non-alpha boundaries; word score = degree/frequency where
    // freq(w) = #occurrences in candidates and deg(w) = Σ length of
    // every candidate containing w (itself included); phrase score =
    // Σ word scores. The run-grouping is the gaps-and-islands trick
    // (grp = pos − row_number, windowed PER DOCUMENT — bounded by doc
    // length, never corpus-sized), word stats are ONE corpus-wide hash
    // aggregate keyed by token, and scores are exact integer ppm
    // (deg·1e6 div freq — both positive, so Spark's truncation and
    // DuckDB's floor agree; the numerator routes through
    // DECIMAL(38,0): deg is corpus-token-bounded). Top-30 phrases by
    // (score, phrase) is a bounded heap. Stopword list = the lang-id
    // lexicon (TextAnalysis.stopEn) so both engines embed the same 10
    // words.
    // ---- n-gram diversity per source (self-repetition audit) --------
    // The pretraining-data DIVERSITY metric (the corpus-level dual of
    // x3_repetition's per-doc signals): distinct-n-gram ratio for
    // n = 1..3 per source — a collapsing ratio flags a source that
    // keeps saying the same thing (template farms, boilerplate
    // mirrors) even when individual docs pass quality filters. Grams
    // come from ONE array transform per n over a materialized-once
    // token-array scan (no joins, no explode-join chains); the ratio
    // is integer ppm. Distinct counts are exact partial+final
    // aggregates on (source, gram); at 100 TB the HLL sketch cube
    // (a4_sketch_distinct) is the documented approximate path.
    "x3_ngram_diversity" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select($"source", tokens($"text").as("w"))
        .localCheckpoint()
      def leg(n: Int) = docs
        .select($"source", explode(expr(
          s"CASE WHEN size(w) >= $n THEN transform(sequence(1, size(w) - ${n - 1}), " +
            s"i -> concat_ws(' ', slice(w, i, $n))) ELSE array() END")).as("g"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_grams"), countDistinct($"g").as("n_distinct"))
        .select($"source", lit(n.toLong).as("n"), $"n_grams", $"n_distinct",
          expr("(n_distinct * 1000000) div n_grams").as("distinct_ppm"))
      Seq(1, 2, 3).map(leg).reduce(_ unionByName _).orderBy($"source", $"n")
    }),

    // ---- TextRank keyword extraction (Mihalcea & Tarau EMNLP'04) ----
    // The graph-based sibling of RAKE (frequency-ratio) and of BM25
    // (query-relative): corpus keywords = PageRank over the token
    // co-occurrence graph. Nodes are content tokens (length ≥ 4),
    // edges connect tokens within a 2-token window, undirected,
    // weighted by co-occurrence count; 4 power-iteration rounds with
    // the a16_pagerank integer discipline — every contribution is
    // (r·w) div wdeg in exact µ-units, damping ×85 div 100, so both
    // engines iterate bit-identically and the DuckDB oracle replays
    // the SAME 4 unrolled CTE rounds. Plan shape: the window pairs
    // are TWO equi-joins on (doc_id, pos+k) — never a range join —
    // edge/degree tables are vocab²-bounded aggregates checkpointed
    // ONCE (the pagerank lineage rule), per-round shuffles carry
    // (token, long) pairs, and the readout is a TakeOrderedAndProject
    // top-20. At 100 TB the graph is corpus-vocabulary-sized, not
    // corpus-sized — the explode pays one shuffle per window offset.
    "x3_textrank" -> ((s, dir) => {
      import s.implicits._
      val t = Tables.documents(s, dir)
        .select($"doc_id", posexplode(tokens($"text")).as(Seq("pos", "tok")))
        .filter(length($"tok") >= 4)
        .localCheckpoint()
      val inst = Seq(1, 2).map { k =>
        t.select($"doc_id", ($"pos" + k).as("p2"), $"tok".as("u"))
          .join(t.select($"doc_id", $"pos".as("p2"), $"tok".as("v")), Seq("doc_id", "p2"))
          .filter($"u" =!= $"v").select($"u", $"v")
      }.reduce(_ unionByName _)
      val e = inst.unionByName(inst.select($"v".as("u"), $"u".as("v")))
        .groupBy($"u", $"v").agg(count(lit(1)).as("w"))
        .localCheckpoint()
      val wd = e.groupBy($"u").agg(sum($"w").as("wd")).localCheckpoint()
      var r = wd.select($"u".as("node"), lit(1000000L).as("r"))
      for (_ <- 1 to 4) {
        // no broadcast hint on the O(vocab) rank table — the
        // a16_pagerank AQE rule
        r = e.join(r, col("node") === col("u")).join(wd, Seq("u"))
          .groupBy($"v")
          .agg(sum(expr("(r * w) div wd")).as("sc"))
          .select($"v".as("node"), (lit(150000L) + expr("(sc * 85) div 100")).as("r"))
      }
      r.select($"node".as("tok"), $"r".cast("long").as("score6"))
        .orderBy($"score6".desc, $"tok").limit(20)
    }),

    "x3_rake_keywords" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val stop = graft.functions.TextAnalysis.stopEn
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok0")))
        .select(col("doc_id"), col("pos"), lower(col("tok0")).as("tok"))
      val content = toks
        .filter(col("tok").rlike("^[a-z]+$") && !col("tok").isInCollection(stop))
        .withColumn("grp", col("pos") -
          row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      val phrases = content.groupBy(col("doc_id"), col("grp"))
        .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x("tok")), " ").as("phrase"),
          count(lit(1)).as("len"))
      val words = content.join(phrases, Seq("doc_id", "grp"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
        .withColumn("wscore", expr("(cast(deg as decimal(38,0)) * 1000000) div freq"))
      content.join(words.select(col("tok"), col("wscore")), Seq("tok"))
        .groupBy(col("doc_id"), col("grp"))
        .agg(sum(col("wscore")).as("score_ppm"))
        .join(phrases, Seq("doc_id", "grp"))
        .groupBy(col("phrase"))
        .agg(count(lit(1)).as("n_occur"), max(col("len")).as("n_words"),
          max(col("score_ppm")).as("score_ppm"))
        .orderBy(col("score_ppm").desc, col("phrase"))
        .limit(30)
    }),

    // ---- readability scoring (Flesch reading ease, exact) ------------
    // The quality-filter dimension x3_quality/x3_gopher_rules don't
    // cover: is the prose READABLE, not just clean? Flesch (1948)
    // reading ease = 206.835 − 1.015·(words/sentences) −
    // 84.6·(syllables/words), with the standard deterministic
    // heuristics: sentences = runs of [.!?] (min 1), syllables = vowel
    // runs [aeiouy]+ per lowercased word (min 1/word). Both run counts
    // come from the two-regexp_replace length trick (collapse runs to
    // one char vs delete them — the difference IS the run count),
    // which is codegen'd in Spark and global-flagged in DuckDB. The
    // score itself is rational and can go NEGATIVE, so no division
    // anywhere: clearing denominators gives the exact integer
    // f_num = 206835·s·w − 1015·w² − 84600·y·s (milli-scaled by s·w),
    // and the filter bit "Flesch ≥ 60" (plain English) is the pure
    // integer comparison f_num ≥ 60000·s·w. One explode + one hash
    // aggregate per doc — embarrassingly parallel at any corpus size.
    "x3_readability" -> ((s, dir) => {
      def runs(c: org.apache.spark.sql.Column, pat: String) =
        greatest(length(regexp_replace(c, pat, "#")) -
          length(regexp_replace(c, pat, "")), lit(1)).cast("long")
      val docs = Tables.documents(s, dir)
      val sents = docs.select(col("doc_id"), runs(col("text"), "[.!?]+").as("n_sents"))
      val words = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("w0"))
        .select(col("doc_id"), runs(lower(col("w0")), "[aeiouy]+").as("syl"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("syl")).as("n_syll"))
      words.join(sents, Seq("doc_id"))
        .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_syll"),
          (lit(206835L) * col("n_sents") * col("n_words") -
            lit(1015L) * col("n_words") * col("n_words") -
            lit(84600L) * col("n_syll") * col("n_sents")).as("f_num"))
        .withColumn("readable",
          when(col("f_num") >= lit(60000L) * col("n_sents") * col("n_words"), 1L)
            .otherwise(0L))
        .orderBy(col("doc_id"))
    }),

    // ---- sequence packing (concat-then-chunk) -----------------------
    // The step that turns a cleaned corpus into training batches:
    // concatenate documents in a deterministic order and chunk the
    // token stream into fixed-capacity packs (C=256 here; 2k-8k in
    // production) — every LLM pretraining pipeline runs exactly this.
    // Each doc's token span [cum−w, cum) comes from the DISTRIBUTED
    // two-pass prefix sum (Partitioning.prefixSum — never a global
    // single-partition window); a doc spanning a pack boundary
    // contributes one segment per touched pack (explode bounded by
    // span/C + 1), and the pack report is one hash aggregate. Output
    // per pack: segment count, token fill (== C except the tail),
    // first/last doc. Exact integers end to end; the oracle replays
    // the same chunking with a window sum + generate_series.
    "x3_seq_pack" -> ((s, dir) => {
      val C = 256L
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("w"))
        .filter(col("w") > 0)
      val cum = graft.operators.Partitioning.prefixSum(d, Nil,
        expr("doc_id div 64"), Seq(col("doc_id")), col("w"), "cum")
      cum.withColumn("strt", col("cum") - col("w"))
        .withColumn("pack", explode(sequence(expr(s"strt div $C"), expr(s"(cum - 1) div $C"))))
        .withColumn("seg_tokens",
          least(col("cum"), (col("pack") + 1) * C) - greatest(col("strt"), col("pack") * C))
        .groupBy("pack")
        .agg(count(lit(1)).as("n_segments"), sum("seg_tokens").as("n_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("pack")
    }),

    // ---- corpus data card (per source × lang) -----------------------
    // The report a dataset release ships: documents, token volume,
    // quality-gate pass count, language-confidence count per
    // (source, lang) cell. Every signal is the same codegen'd
    // single-pass expression the filter pipeline uses — the whole card
    // is ONE scan + one partial+final aggregate.
    "x3_corpus_stats" -> ((s, dir) => {
      val w = tokens(col("text"))
      Tables.documents(s, dir)
        .select(col("source"), col("lang"),
          size(w).cast("long").as("n_tok"),
          isGoodDoc(col("text")).as("good"),
          (langId(col("text")) === col("lang")).as("langmatch"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          sum(when(col("good"), 1L).otherwise(0L)).as("n_good"),
          sum(when(col("langmatch"), 1L).otherwise(0L)).as("n_lang_match"))
        .orderBy("source", "lang")
    }),

    // ---- length-curriculum mixture ----------------------------------
    // Curriculum construction: documents fold into 4 global length
    // quartile tiers (stats-then-apply — exact distributed cutpoints,
    // broadcast, compare; never a corpus sort), and each tier takes
    // docs in content-hash order until a fixed token budget fills.
    // The per-tier cumulative walk is the distributed prefix sum
    // (bucketed by the hash prefix within each tier), so no task ever
    // holds a tier. Deterministic end to end; the oracle re-derives
    // the same cutpoints via quantile_cont (pinned equal to Spark
    // percentile) and the same take-while.
    "x3_curriculum" -> ((s, dir) => {
      // Plain scan (VERDICT r13 wrong #1, measured): both passes are
      // one cheap projection feeding their own repartition/prefix-sum
      // exchanges — the ambient fan-out exchange bought nothing
      val d0 = Tables.documentsPlain(s, dir)
      val cuts = graft.operators.Percentiles.exactDistributed(
        d0, Nil, "n_chars", Seq(0.25, 0.5, 0.75), Seq("q1", "q2", "q3"))
      val d = d0.crossJoin(broadcast(cuts))
        .select(
          when(col("n_chars") < col("q1"), 0)
            .when(col("n_chars") < col("q2"), 1)
            .when(col("n_chars") < col("q3"), 2).otherwise(3).as("tier"),
          col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tok"),
          md5(col("text")).as("h"))
      graft.operators.Partitioning.prefixSum(d, Seq("tier"),
          substring(col("h"), 1, 2), Seq(col("h"), col("doc_id")), col("n_tok"), "cum")
        .filter(col("cum") <= 3000L)
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
        .orderBy("tier")
    }),

    // ---- end-to-end quality filter pipeline -------------------------
    // The composed keep/drop verdict a pretraining corpus actually
    // ships: quality gate AND language-confidence gate (predicted ==
    // labeled) AND repetition gate (dup-word ratio < 50%), reported
    // as survival rates per language. One scan, all three signals are
    // codegen'd column expressions — composition costs nothing extra.
    "x3_filter_pipeline" -> ((s, dir) => {
      val w = tokens(col("text"))
      Tables.documents(s, dir)
        .select(col("lang"),
          (isGoodDoc(col("text")) &&
            langId(col("text")) === col("lang") &&
            dupWordCount(w) * 2 < size(w).cast("long")).as("keep"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
        .withColumn("keep_pct", expr("n_keep * 100 div n_docs"))
        .orderBy("lang")
    }),

    // ---- URL parsing / domain normalization -------------------------
    // The web-corpus preprocessing step every crawl pipeline runs:
    // split a URL into host / path / query params, normalize the
    // registrable domain (strip www.). URLs are derived
    // deterministically from doc metadata (the corpus has no real
    // URLs), so both engines parse identical strings; Spark uses the
    // codegen'd parse_url, the oracle uses regexes — a hash match
    // proves the two parsers agree. Scan-local map, no shuffle.
    "p14_url_parse" -> ((s, dir) => {
      val url = concat(lit("https://www."), col("source"),
        lit(".example.com/docs/"), col("doc_id").cast("string"),
        lit("?lang="), col("lang"), lit("&v="), (col("doc_id") % 7).cast("string"))
      Tables.documents(s, dir)
        .select(col("doc_id"), url.as("url"))
        .select(col("doc_id"),
          regexp_replace(parse_url(col("url"), lit("HOST")), "^www\\.", "").as("domain"),
          element_at(split(parse_url(col("url"), lit("PATH")), "/"), -1)
            .cast("long").as("doc_ref"),
          parse_url(col("url"), lit("QUERY"), lit("lang")).as("q_lang"),
          parse_url(col("url"), lit("QUERY"), lit("v")).cast("long").as("q_v"))
        .orderBy("doc_id")
    }),

    // ---- content fingerprints (exact + winnowing) -------------------
    "x3_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          fingerprint(col("text")).as("fp"),
          winnowFingerprint(col("text"), 5).as("fp_winnow"))
        .orderBy("doc_id")
    }),

    // ---- PII redaction (emails + phones planted deterministically) --
    // The synthetic corpus has no natural PII, so both engines derive
    // the same augmented text from doc_id, then redact it — the regex
    // path is exercised for real and the md5 of the redacted text is
    // the strong check. Scan-local map: no shuffle at any scale.
    "x3_pii_redact" -> ((s, dir) => {
      val aug = concat(
        col("text"), lit(" Contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or call 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" now."),
        when(col("doc_id") % 3 === 0,
          concat(lit(" cc admin"), col("doc_id").cast("string"), lit("@example.org")))
          .otherwise(lit("")))
      Tables.documents(s, dir)
        .select(col("doc_id"), aug.as("aug"))
        .select(col("doc_id"),
          piiEmailCount(col("aug")).as("n_emails"),
          piiPhoneCount(col("aug")).as("n_phones"),
          md5(redactPii(col("aug")).cast("binary")).as("fp"))
        .orderBy("doc_id")
    }),

    // ---- repetition signals (Gopher-style quality filters) ----------
    // dup_words and the most-frequent-bigram count, all integers so
    // the hash never depends on float rounding. Bigram counting is
    // explode → two-level hash aggregate — the distributed plan (the
    // per-doc HOF alternative would be O(words²) in executor memory).
    "x3_repetition" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("w"),
          wordBigramsAll(col("text")).as("grams"))
        .select(col("doc_id"),
          size(col("w")).cast("long").as("n_words"),
          dupWordCount(col("w")).as("dup_words"),
          col("grams"))
      val top = base
        .select(col("doc_id"), explode(col("grams")).as("gram"))
        .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("top_bigram_cnt"))
      base.drop("grams")
        .join(top, Seq("doc_id"), "left")
        .na.fill(0L, Seq("top_bigram_cnt"))
        .orderBy("doc_id")
    }),

    // ---- Gopher quality rules (Rae et al. 2021, Appendix A) ---------
    // The full published rule battery as one row-local report: word
    // count in [50, 100k], mean word length in [3, 10], symbol-to-
    // word ratio ≤ 0.1, ≤ 90% bullet lines, ≤ 30% ellipsis lines,
    // ≥ 80% alpha-bearing words, ≥ 2 distinct required stopwords.
    // Ratio thresholds are cross-multiplied to integers so the rule
    // bits hash-match across engines; the whole report is one
    // whole-stage-codegen map over the scan — at 100 TB, pure scan
    // bandwidth, zero shuffle before the ordered dump.
    "x3_gopher_rules" -> ((s, dir) => {
      val toks = tokens(col("text"))
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"),
        toks.as("w"), lines(col("text")).as("ls"))
      val nW = size(col("w")).cast("long")
      val nL = size(col("ls")).cast("long")
      d.select(
          col("doc_id"), nW.as("n_words"),
          (nW >= 50L && nW <= 100000L).as("r_wc"),
          (tokenCharSum(col("w")) >= nW * 3 && tokenCharSum(col("w")) <= nW * 10).as("r_mwl"),
          (symbolCount(col("text")) * 10 <= nW).as("r_sym"),
          (bulletLineCount(col("text")) * 10 <= nL * 9).as("r_bullet"),
          (ellipsisLineCount(col("text")) * 10 <= nL * 3).as("r_ellipsis"),
          (alphaWordCount(col("w")) * 5 >= nW * 4).as("r_alpha"),
          (gopherStopHits(col("w")) >= 2L).as("r_stop"))
        .withColumn("pass",
          col("r_wc") && col("r_mwl") && col("r_sym") && col("r_bullet") &&
            col("r_ellipsis") && col("r_alpha") && col("r_stop"))
        .orderBy("doc_id")
    }),

    // ---- token-budget sequence packing ------------------------------
    // Chunked packing for LLM training batches: within each lang
    // shard, docs (ordered by doc_id) are laid head-to-tail and cut
    // into 512-token bins — bin = tokens-before div 512, a windowed
    // cumulative sum. Deterministic and engine-portable (no greedy
    // bin-packing heuristics). Scale: partition-parallel across langs;
    // at 100 TB you shard the window key further (e.g. lang × bucket
    // of doc_id) so no single partition holds a whole language.
    // ---- X3h: dataset mixture construction ---------------------------
    // The pretraining data-mixture builder: sources fold into weighted
    // tiers (40/30/20/10% of a fixed token budget) and each tier
    // takes documents in a DETERMINISTIC content-hash order until its
    // token budget is exhausted. Re-running the pipeline — in any
    // engine, at any parallelism — selects the same documents: the
    // order is md5(text) (tie-broken by doc_id), the take-while is an
    // integer cumsum ≤ integer budget. The per-tier cumsum is the
    // distributed prefix sum (Partitioning.prefixSum) bucketed by the
    // hash's leading 2 hex chars WITHIN each tier: 4 tiers no longer
    // mean 4 window tasks each holding a quarter of the corpus
    // (VERDICT r2 #3) — parallelism is tiers×256, and the ordered
    // pass carries (hash, n_tok), not text.
    "x3_mixture" -> ((s, dir) => {
      val t = Tables.documents(s, dir).select(
        (expr("cast(substring(source, 4) as int)") % 4).as("tier"),
        col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        md5(col("text")).as("h"))
      graft.operators.Partitioning.prefixSum(t, Seq("tier"),
          substring(col("h"), 1, 2), Seq(col("h"), col("doc_id")), col("n_tok"), "cum")
        .withColumn("budget_tok",
          (when(col("tier") === 0, 40L).when(col("tier") === 1, 30L)
            .when(col("tier") === 2, 20L).otherwise(10L)) * 200L)
        .filter(col("cum") <= col("budget_tok"))
        .groupBy(col("tier"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
        .orderBy("tier", "source")
    }),

    // ---- X3: token-budget mixing plan --------------------------------
    // The data-mixing worksheet every training run writes before it
    // samples (the static half of mixture design): given per-tier
    // token availability and DECLARED target shares (the x3_mixture
    // tiers: 40/30/20/10%) against a total budget of half the corpus,
    // compute per tier the sampling rate (capped at 1 — you cannot
    // sample more than once without repeating), the epoch multiplier
    // (>1e6 ppm = the tier must UPSAMPLE to hit its share), and the
    // deficit the cap leaves. All exact integers; the budget
    // arithmetic routes through DECIMAL(38,0) (target·1e6 wraps
    // BIGINT at ~1e13 avail tokens — the 100 TB regime). One
    // partial+final aggregate over a 2-column projection + a 1-row
    // broadcast: the plan a 1000-executor cluster wants.
    "x3_token_budget" -> ((s, dir) => {
      import s.implicits._
      val t = Tables.documents(s, dir).select(
        (expr("cast(substring(source, 4) as int)") % 4).as("tier"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      val byTier = t.groupBy($"tier")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("avail_tok"))
      val tot = byTier.agg(sum($"avail_tok").as("corpus_tok"))
      byTier.crossJoin(broadcast(tot))
        .withColumn("share_pct", when($"tier" === 0, 40L).when($"tier" === 1, 30L)
          .when($"tier" === 2, 20L).otherwise(10L))
        .withColumn("target_tok", expr("(corpus_tok div 2) * share_pct div 100"))
        .select($"tier", $"n_docs", $"avail_tok", $"share_pct", $"target_tok",
          expr("CAST(least(1000000, (CAST(target_tok AS DECIMAL(38,0)) * 1000000) div avail_tok) AS BIGINT)")
            .as("rate_ppm"),
          expr("CAST((CAST(target_tok AS DECIMAL(38,0)) * 1000000) div avail_tok AS BIGINT)")
            .as("epochs_ppm"),
          expr("greatest(0, target_tok - avail_tok)").as("deficit_tok"))
        .orderBy($"tier")
    }),

    // ---- X3: context-length truncation waste -------------------------
    // The question asked before picking a context length: how many
    // tokens does hard truncation at L = 256 throw away, per language?
    // kept = Σ min(t, L), waste = Σ max(0, t − L), plus the affected
    // doc count and integer-ppm waste share. One aggregate; the
    // companion to x3_pack_sequences (packing is what you do INSTEAD
    // of truncating when the waste share says so).
    "x3_truncation_waste" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"lang", size(tokens($"text")).cast("long").as("t"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"t").as("total_tok"),
          sum(least($"t", lit(256L))).as("kept_tok"),
          sum(greatest($"t" - 256L, lit(0L))).as("waste_tok"),
          sum(when($"t" > 256L, 1L).otherwise(0L)).as("n_truncated"))
        .withColumn("waste_ppm", expr("(waste_tok * 1000000) div total_tok"))
        .orderBy($"lang")
    }),

    // ---- X3: balanced shard plan (sorted round-robin) ----------------
    // Writing N training shards of ~equal token mass: the classic
    // sorted-round-robin heuristic — rank docs by token count
    // descending (ties by doc_id) and assign shard = rank mod 8, so
    // each shard gets one doc from every size stratum. The global
    // rank comes from the DISTRIBUTED prefix sum over cheapCuts
    // buckets of the NEGATED token count (monotone coarsening of the
    // descending order — the a4_weighted_median apparatus; no
    // single-partition window at any corpus size). Exact, determinist,
    // and the oracle replays rank mod 8 via row_number. The per-shard
    // token sums come out within one max-doc of each other by
    // construction — the gate pins the exact assignment.
    "x3_balanced_shards" -> ((s, dir) => {
      import s.implicits._
      val t = Tables.documents(s, dir)
        .select($"doc_id", size(tokens($"text")).cast("long").as("n_tok"))
        .withColumn("negtok", -$"n_tok")
        .localCheckpoint()
      val cutsF = graft.operators.Percentiles.cheapCuts(
        t, "negtok", (1 to 31).map(k => s"c$k"))
      val bucketed = t.crossJoin(broadcast(cutsF))
        .withColumn("bk", (1 to 31).map(k =>
          when($"negtok" >= col(s"c$k"), 1L).otherwise(0L)).reduce(_ + _))
        .select($"doc_id", $"n_tok", $"negtok", $"bk")
      val ranked = graft.operators.Partitioning.prefixSum(
        bucketed, Nil, $"bk", Seq($"negtok", $"doc_id"), lit(1L), "rk")
      ranked.withColumn("shard", ($"rk" - 1L) % 8L)
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("shard_tok"),
          min($"n_tok").as("min_tok"), max($"n_tok").as("max_tok"))
        .orderBy($"shard")
    }),

    "x3_pack_sequences" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val win = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("cum_before", coalesce(sum("n_tok").over(win), lit(0L)))
        .withColumn("bin", expr("cum_before div 512"))
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("total_tokens"))
        .orderBy("lang", "bin")
    })
  )

  private val langLex =
    """['the','and','of','to','a','in','is','that','it','for']"""
  private val langLexEs =
    """['el','la','de','que','y','en','un','una','los','por']"""
  private val langLexDe =
    """['der','die','das','und','ist','von','mit','den','nicht','ein']"""

  private val perDocLang =
    s"""SELECT lang,
       |  CASE WHEN length(text) - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) > 0 THEN 'zh'
       |       WHEN len(list_filter(toks, x -> list_contains($langLexEs, x))) > len(list_filter(toks, x -> list_contains($langLex, x)))
       |        AND len(list_filter(toks, x -> list_contains($langLexEs, x))) >= len(list_filter(toks, x -> list_contains($langLexDe, x))) THEN 'es'
       |       WHEN len(list_filter(toks, x -> list_contains($langLexDe, x))) > len(list_filter(toks, x -> list_contains($langLex, x)))
       |        AND len(list_filter(toks, x -> list_contains($langLexDe, x))) > len(list_filter(toks, x -> list_contains($langLexEs, x))) THEN 'de'
       |       ELSE 'en' END AS predicted
       |FROM (SELECT lang, text,
       |        list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '') AS toks
       |      FROM documents) d""".stripMargin

  /** The BM25 top-20 oracle text — standalone entry AND the lexical
    * leg of the hybrid-RRF oracle (nested as a CTE there, so the two
    * gates can never drift apart). */
  /** BM25 oracle over a parameterizable corpus slice — `docWhere` ""
    * is the whole corpus; x3_search_erasure passes the survivor
    * filter, pinning that the tombstoned index's scores equal an
    * index that never saw the erased docs. */
  private[queries] def bm25OracleSql(docWhere: String): String =
    s"""WITH docs AS (SELECT doc_id, text FROM documents $docWhere),
      |toks AS (SELECT doc_id,
      |  unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')) AS term
      |  FROM docs),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
      |       WHERE term IN ('vector', 'stream', 'merge') GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
      |st AS (SELECT (SELECT COUNT(*) FROM docs) AS n_docs,
      |              (SELECT COUNT(*) FROM toks) AS total_tokens)
      |SELECT tf.doc_id AS doc_id,
      |  CAST(SUM(CAST(ROUND(CAST((n_docs * 1000) // df AS DOUBLE) * CAST(tf AS DOUBLE) * 2.2 /
      |    (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) *
      |    CAST(n_docs AS DOUBLE) / CAST(total_tokens AS DOUBLE))) * 1000000.0) AS BIGINT)) AS BIGINT) AS score,
      |  COUNT(*) AS n_terms
      |FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st
      |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  private[queries] val Bm25OracleSql: String = bm25OracleSql("")

  /** One TextRank power-iteration round as a CTE — the unrolled-CTE
    * gating discipline (kmeansCtes / a16_communities_full): the
    * oracle replays the IDENTICAL integer iteration, so the gate pins
    * the whole fixed-round trajectory, not just the final ranking. */
  private def trRound(n: Int): String =
    s"""r$n AS (SELECT e.v AS node,
       |    150000 + (SUM((r.r * e.w) // d.wd) * 85) // 100 AS r
       |  FROM e JOIN r${n - 1} r ON r.node = e.u JOIN wd d ON d.u = e.u GROUP BY 1)""".stripMargin

  private val TextrankOracleSql: String =
    s"""WITH d AS (SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '') AS w
       |  FROM documents),
       |t AS (SELECT doc_id, i AS pos, w[i] AS tok
       |  FROM d, LATERAL unnest(range(1, len(w)+1)) r(i)
       |  WHERE length(w[i]) >= 4),
       |e0 AS (SELECT a.tok AS u, b.tok AS v, COUNT(*) AS c
       |  FROM t a JOIN t b ON a.doc_id = b.doc_id
       |    AND b.pos - a.pos BETWEEN 1 AND 2 AND a.tok <> b.tok
       |  GROUP BY 1, 2),
       |e AS (SELECT u, v, SUM(c) AS w FROM (
       |    SELECT u, v, c FROM e0 UNION ALL SELECT v, u, c FROM e0) GROUP BY 1, 2),
       |wd AS (SELECT u, SUM(w) AS wd FROM e GROUP BY 1),
       |r0 AS (SELECT u AS node, CAST(1000000 AS BIGINT) AS r FROM wd),
       |${trRound(1)},
       |${trRound(2)},
       |${trRound(3)},
       |${trRound(4)}
       |SELECT node AS tok, CAST(r AS BIGINT) AS score6 FROM r4
       |ORDER BY score6 DESC, tok LIMIT 20""".stripMargin

  val oracle: Map[String, String] = Map(
    "x3_lang_id" ->
      s"""SELECT lang, predicted, COUNT(*) AS n FROM ($perDocLang) p
         |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,

    "x3_quality" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN length(text) = 0 THEN 0
        |       ELSE length(regexp_replace(lower(text), '[^a-z]', '', 'g')) * 100 // length(text) END AS BIGINT) AS alpha_pct,
        |  CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS BIGINT) AS n_punct,
        |  (CASE WHEN length(text) = 0 THEN 0
        |        ELSE length(regexp_replace(lower(text), '[^a-z]', '', 'g')) * 100 // length(text) END) >= 70
        |   AND len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) >= 20 AS is_good
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x3_bpe_tokens" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_bpe,
        |  CAST(SUM(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != ''))) AS BIGINT) AS total_ws
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // first md5 nibble < 13 ⇒ train (13/16 ≈ 81%)
    "x3_train_test_split" ->
      """SELECT lang,
        |CASE WHEN ('0x' || substr(md5(text), 1, 1))::INT < 13 THEN 'train' ELSE 'test' END AS split,
        |COUNT(*) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "x3_split_balance" ->
      """WITH s AS (SELECT lang,
        |  CASE WHEN ('0x' || substr(md5(text), 1, 1))::INT < 13 THEN 'train' ELSE 'test' END AS split
        |  FROM documents),
        |b AS (SELECT lang,
        |        SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train,
        |        SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS n_test
        |      FROM s GROUP BY 1),
        |g AS (SELECT SUM(n_train) AS g_train, SUM(n_train + n_test) AS g_total FROM b)
        |SELECT lang, CAST(n_train AS BIGINT) AS n_train, CAST(n_test AS BIGINT) AS n_test,
        |  CAST(abs(n_train * 1000000 // (n_train + n_test) - g_train * 1000000 // g_total) AS BIGINT) AS skew_ppm
        |FROM b, g ORDER BY lang""".stripMargin,

    // same islands trick; phrase text via ordered string_agg; scores
    // are positive-integer division so // and div agree
    "x3_rake_keywords" ->
      """WITH d AS (SELECT doc_id,
        |       list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w
        |     FROM documents),
        |t AS (SELECT doc_id, generate_subscripts(w, 1) - 1 AS pos, lower(unnest(w)) AS tok
        |      FROM d),
        |c AS (SELECT doc_id, pos, tok,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM t WHERE regexp_full_match(tok, '[a-z]+')
        |    AND tok NOT IN ('the','and','of','to','a','in','is','that','it','for')),
        |ph AS (SELECT doc_id, grp, string_agg(tok, ' ' ORDER BY pos) AS phrase,
        |    COUNT(*) AS len
        |  FROM c GROUP BY 1, 2),
        |wd AS (SELECT c.tok, COUNT(*) AS freq, SUM(ph.len) AS deg
        |  FROM c JOIN ph USING (doc_id, grp) GROUP BY 1),
        |ws AS (SELECT tok, (deg * 1000000) // freq AS wscore FROM wd),
        |sc AS (SELECT c.doc_id, c.grp, SUM(ws.wscore) AS score_ppm
        |  FROM c JOIN ws USING (tok) GROUP BY 1, 2)
        |SELECT ph.phrase, COUNT(*) AS n_occur,
        |  CAST(MAX(ph.len) AS BIGINT) AS n_words,
        |  CAST(MAX(sc.score_ppm) AS BIGINT) AS score_ppm
        |FROM sc JOIN ph USING (doc_id, grp)
        |GROUP BY 1 ORDER BY score_ppm DESC, phrase LIMIT 30""".stripMargin,

    "x3_readability" ->
      """WITH d AS (SELECT doc_id, text,
        |       list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w
        |     FROM documents),
        |se AS (SELECT doc_id, greatest(
        |    length(regexp_replace(text, '[.!?]+', '#', 'g')) -
        |    length(regexp_replace(text, '[.!?]+', '', 'g')), 1) AS n_sents FROM d),
        |t AS (SELECT doc_id, lower(unnest(w)) AS tok FROM d),
        |sy AS (SELECT doc_id, COUNT(*) AS n_words,
        |    SUM(greatest(
        |      length(regexp_replace(tok, '[aeiouy]+', '#', 'g')) -
        |      length(regexp_replace(tok, '[aeiouy]+', '', 'g')), 1)) AS n_syll
        |  FROM t GROUP BY 1)
        |SELECT sy.doc_id, sy.n_words, CAST(se.n_sents AS BIGINT) AS n_sents,
        |  CAST(sy.n_syll AS BIGINT) AS n_syll,
        |  CAST(206835 * se.n_sents * sy.n_words - 1015 * sy.n_words * sy.n_words
        |    - 84600 * sy.n_syll * se.n_sents AS BIGINT) AS f_num,
        |  CAST(CASE WHEN 206835 * se.n_sents * sy.n_words - 1015 * sy.n_words * sy.n_words
        |    - 84600 * sy.n_syll * se.n_sents >= 60000 * se.n_sents * sy.n_words
        |    THEN 1 ELSE 0 END AS BIGINT) AS readable
        |FROM sy JOIN se USING (doc_id)
        |ORDER BY sy.doc_id""".stripMargin,

    "x3_vocab_encode" ->
      """WITH d AS (SELECT doc_id,
        |       list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w
        |     FROM documents),
        |t AS (SELECT doc_id, generate_subscripts(w, 1) - 1 AS pos, unnest(w) AS tok
        |      FROM d),
        |v0 AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY 1),
        |v AS (SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok) - 1 AS id
        |      FROM v0 QUALIFY id < 64),
        |e AS (SELECT t.doc_id, t.pos, COALESCE(v.id, -1) AS id
        |      FROM t LEFT JOIN v USING (tok))
        |SELECT doc_id, COUNT(*) AS n_tok,
        |  CAST(SUM(CASE WHEN id < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(SUM((pos + 1) * (id + 2)) AS BIGINT) AS id_checksum
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    "x3_corpus_stats" ->
      s"""WITH d AS (SELECT source, lang, text,
         |  list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '') AS toks
         |  FROM documents),
         |q AS (SELECT source, lang,
         |  len(toks) AS n_tok,
         |  ((CASE WHEN length(text) = 0 THEN 0
         |         ELSE length(regexp_replace(lower(text), '[^a-z]', '', 'g')) * 100 // length(text) END) >= 70
         |   AND len(toks) >= 20) AS good,
         |  (CASE WHEN length(text) - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) > 0 THEN 'zh'
         |       WHEN len(list_filter(toks, x -> list_contains($langLexEs, x))) > len(list_filter(toks, x -> list_contains($langLex, x)))
         |        AND len(list_filter(toks, x -> list_contains($langLexEs, x))) >= len(list_filter(toks, x -> list_contains($langLexDe, x))) THEN 'es'
         |       WHEN len(list_filter(toks, x -> list_contains($langLexDe, x))) > len(list_filter(toks, x -> list_contains($langLex, x)))
         |        AND len(list_filter(toks, x -> list_contains($langLexDe, x))) > len(list_filter(toks, x -> list_contains($langLexEs, x))) THEN 'de'
         |       ELSE 'en' END = lang) AS langmatch
         |  FROM d)
         |SELECT source, lang, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
         |  CAST(SUM(CASE WHEN good THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
         |  CAST(SUM(CASE WHEN langmatch THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_match
         |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "x3_curriculum" ->
      """WITH c AS (SELECT quantile_cont(n_chars, 0.25) AS q1,
        |                  quantile_cont(n_chars, 0.5)  AS q2,
        |                  quantile_cont(n_chars, 0.75) AS q3 FROM documents),
        |d AS (SELECT CASE WHEN n_chars < q1 THEN 0 WHEN n_chars < q2 THEN 1
        |                  WHEN n_chars < q3 THEN 2 ELSE 3 END AS tier,
        |             doc_id,
        |             CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS BIGINT) AS n_tok,
        |             md5(text) AS h
        |      FROM documents, c),
        |w AS (SELECT tier, n_tok,
        |        SUM(n_tok) OVER (PARTITION BY tier ORDER BY h, doc_id
        |                         ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM d)
        |SELECT tier, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tokens
        |FROM w WHERE cum <= 3000 GROUP BY 1 ORDER BY 1""".stripMargin,

    "x3_filter_pipeline" ->
      s"""WITH d AS (SELECT doc_id, lang, text,
         |  list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '') AS toks
         |  FROM documents),
         |q AS (SELECT doc_id, lang,
         |  ((CASE WHEN length(text) = 0 THEN 0
         |         ELSE length(regexp_replace(lower(text), '[^a-z]', '', 'g')) * 100 // length(text) END) >= 70
         |   AND len(toks) >= 20) AS is_good,
         |  len(toks) - len(list_distinct(toks)) AS dup_words,
         |  len(toks) AS n_words,
         |  CASE WHEN length(text) - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) > 0 THEN 'zh'
         |       WHEN len(list_filter(toks, x -> list_contains($langLexEs, x))) > len(list_filter(toks, x -> list_contains($langLex, x)))
         |        AND len(list_filter(toks, x -> list_contains($langLexEs, x))) >= len(list_filter(toks, x -> list_contains($langLexDe, x))) THEN 'es'
         |       WHEN len(list_filter(toks, x -> list_contains($langLexDe, x))) > len(list_filter(toks, x -> list_contains($langLex, x)))
         |        AND len(list_filter(toks, x -> list_contains($langLexDe, x))) > len(list_filter(toks, x -> list_contains($langLexEs, x))) THEN 'de'
         |       ELSE 'en' END AS predicted
         |  FROM d)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN is_good AND predicted = lang AND dup_words * 2 < n_words
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         |  CAST(SUM(CASE WHEN is_good AND predicted = lang AND dup_words * 2 < n_words
         |                THEN 1 ELSE 0 END) * 100 // COUNT(*) AS BIGINT) AS keep_pct
         |FROM q GROUP BY 1 ORDER BY 1""".stripMargin,

    "p14_url_parse" ->
      """WITH u AS (SELECT doc_id,
        |  'https://www.' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
        |    || '?lang=' || lang || '&v=' || CAST(doc_id % 7 AS VARCHAR) AS url
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_extract(url, '://([^/?]+)', 1), '^www\.', '') AS domain,
        |  CAST(regexp_extract(url, '/docs/([0-9]+)', 1) AS BIGINT) AS doc_ref,
        |  regexp_extract(url, '[?&]lang=([^&]*)', 1) AS q_lang,
        |  CAST(regexp_extract(url, '[?&]v=([^&]*)', 1) AS BIGINT) AS q_v
        |FROM u ORDER BY doc_id""".stripMargin,

    "x3_fingerprint" ->
      """WITH d AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |g AS (SELECT doc_id, text,
        |        CASE WHEN len(w) >= 5
        |             THEN list_distinct([w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4] for i in range(1, len(w)-3)])
        |             ELSE [array_to_string(w, ' ')] END AS grams
        |      FROM d)
        |SELECT doc_id, md5(text) AS fp,
        |       list_aggregate([md5(x) for x in grams], 'min') AS fp_winnow
        |FROM g ORDER BY doc_id""".stripMargin,

    "x3_chunking" ->
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w FROM documents),
        |k AS (SELECT doc_id, w, unnest(range(0, (len(w) - 1) // 16 + 1)) AS chunk_id FROM d WHERE len(w) >= 1),
        |c AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |        CAST(least(32, len(w) - chunk_id * 16) AS BIGINT) AS n_tok,
        |        md5(array_to_string(w[chunk_id * 16 + 1 : least(chunk_id * 16 + 32, len(w))], ' ')) AS fp
        |      FROM k)
        |SELECT doc_id, chunk_id, n_tok, fp FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // per-term IEEE score over exact ints, rounded to scaled BIGINT
    // before the sum — expression tree mirrors TextIndex.bm25Search
    "x3_bm25_search" -> Bm25OracleSql,
    // the tombstoned index must score exactly like an index built on
    // the survivors — same text, survivor-filtered corpus
    "x3_search_erasure" -> bm25OracleSql("WHERE doc_id % 7 <> 3"),

    "x3_bm25_negatives" ->
      s"""WITH RECURSIVE pairs AS (${DedupQueries.jaccardOracle.replace("ORDER BY doc_a, doc_b", "")}),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |lab AS (SELECT src AS doc_id, MIN(dst) AS cluster FROM reach GROUP BY src),
         |toks AS (SELECT doc_id,
         |  unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')) AS term
         |  FROM documents),
         |qd AS (SELECT doc_id AS q_doc FROM
         |        (SELECT doc_a AS doc_id FROM pairs UNION SELECT doc_b FROM pairs)
         |       ORDER BY doc_id LIMIT 8),
         |qtf AS (SELECT q_doc, term, COUNT(*) AS qtf
         |        FROM toks t JOIN qd ON qd.q_doc = t.doc_id
         |        WHERE length(term) >= 4 GROUP BY 1, 2),
         |qs AS (SELECT q_doc, term FROM
         |        (SELECT q_doc, term,
         |           row_number() OVER (PARTITION BY q_doc ORDER BY qtf DESC, term) AS r
         |         FROM qtf)
         |       WHERE r <= 3),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
         |       WHERE term IN (SELECT term FROM qs) GROUP BY 1, 2),
         |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
         |st AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         |              (SELECT COUNT(*) FROM toks) AS total_tokens),
         |sc AS (SELECT qs.q_doc, tf.doc_id,
         |    CAST(SUM(CAST(ROUND(CAST((n_docs * 1000) // df AS DOUBLE) * CAST(tf AS DOUBLE) * 2.2 /
         |      (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) *
         |      CAST(n_docs AS DOUBLE) / CAST(total_tokens AS DOUBLE))) * 1000000.0) AS BIGINT)) AS BIGINT) AS score
         |  FROM tf JOIN qs USING (term) JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st
         |  GROUP BY 1, 2),
         |tg AS (SELECT s.q_doc, s.doc_id, s.score, lq.cluster = lc.cluster AS same_cl
         |  FROM sc s JOIN lab lq ON lq.doc_id = s.q_doc JOIN lab lc ON lc.doc_id = s.doc_id),
         |nx AS (SELECT q_doc,
         |    SUM(CASE WHEN same_cl AND doc_id <> q_doc THEN 1 ELSE 0 END) AS n_excluded
         |  FROM tg GROUP BY 1),
         |rk AS (SELECT q_doc, doc_id AS neg_doc, score,
         |    row_number() OVER (PARTITION BY q_doc ORDER BY score DESC, doc_id) AS rank
         |  FROM tg WHERE NOT same_cl)
         |SELECT rk.q_doc, CAST(rank AS BIGINT) AS rank, neg_doc, score,
         |  CAST(n_excluded AS BIGINT) AS n_excluded
         |FROM rk JOIN nx USING (q_doc) WHERE rank <= 5 ORDER BY q_doc, rank""".stripMargin,

    "x3_zipf_curve" ->
      """WITH f AS (SELECT tok, COUNT(*) AS freq FROM (
        |    SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS tok
        |    FROM documents) GROUP BY 1 ORDER BY freq DESC, tok LIMIT 50)
        |SELECT CAST(row_number() OVER (ORDER BY freq DESC, tok) AS BIGINT) AS rank,
        |  tok, freq, CAST(freq * row_number() OVER (ORDER BY freq DESC, tok) AS BIGINT) AS fr
        |FROM f ORDER BY rank""".stripMargin,

    "x3_hash_embed" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS tok
        |  FROM documents WHERE doc_id < 40)
        |SELECT doc_id,
        |  CAST(('0x' || substr(md5(tok), 1, 4))::INT % 64 AS BIGINT) AS dim,
        |  COUNT(*) AS x
        |FROM t GROUP BY 1, 2 ORDER BY doc_id, dim""".stripMargin,

    "x3_textrank" -> TextrankOracleSql,

    "x3_ngram_diversity" ->
      """WITH d AS (SELECT source,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT source, CAST(1 AS BIGINT) AS n, array_to_string(list_slice(w, i, i), ' ') AS g
        |    FROM d, LATERAL unnest(range(1, len(w) + 1)) r(i)
        |  UNION ALL
        |  SELECT source, 2, array_to_string(list_slice(w, i, i + 1), ' ')
        |    FROM d, LATERAL unnest(range(1, len(w))) r(i)
        |  UNION ALL
        |  SELECT source, 3, array_to_string(list_slice(w, i, i + 2), ' ')
        |    FROM d, LATERAL unnest(range(1, len(w) - 1)) r(i))
        |SELECT source, n, COUNT(*) AS n_grams,
        |  COUNT(DISTINCT g) AS n_distinct,
        |  CAST((COUNT(DISTINCT g) * 1000000) // COUNT(*) AS BIGINT) AS distinct_ppm
        |FROM g GROUP BY 1, 2 ORDER BY source, n""".stripMargin,

    "x3_collocations" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(w) AS tok FROM d),
        |uni AS (SELECT tok, COUNT(*) AS n1 FROM t GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nn FROM t),
        |bi AS (SELECT w[i] AS a, w[i+1] AS b, COUNT(*) AS nab
        |  FROM d, LATERAL unnest(range(1, len(w))) r(i)
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 20)
        |SELECT a, b, nab,
        |  CAST((nab * nn * 1000000) // (na.n1 * nb.n1) AS BIGINT) AS lift_ppm
        |FROM bi JOIN uni na ON na.tok = a JOIN uni nb ON nb.tok = b CROSS JOIN n
        |ORDER BY lift_ppm DESC, a, b LIMIT 25""".stripMargin,

    "x3_perplexity" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w
        |  FROM documents),
        |bg AS (SELECT doc_id, w[i] AS a, w[i+1] AS b
        |  FROM d, LATERAL unnest(range(1, len(w))) r(i)),
        |train AS (SELECT a, b, COUNT(*) AS nab FROM bg WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |heads AS (SELECT a, SUM(nab) AS na FROM train GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT tok) AS vs
        |  FROM (SELECT unnest(w) AS tok FROM d WHERE doc_id % 2 = 0)),
        |sc AS (SELECT bg.doc_id,
        |    COALESCE(train.nab, 0) AS nab, COALESCE(heads.na, 0) AS na
        |  FROM bg LEFT JOIN train ON train.a = bg.a AND train.b = bg.b
        |    LEFT JOIN heads ON heads.a = bg.a
        |  WHERE bg.doc_id % 2 = 1),
        |l AS (SELECT doc_id,
        |    CAST(ROUND(ln((nab + 1) / CAST(na + vs AS DOUBLE)) * 1000000) AS BIGINT) AS lp
        |  FROM sc CROSS JOIN v)
        |SELECT doc_id, COUNT(*) AS nb, CAST(-SUM(lp) AS BIGINT) AS nll_u6,
        |  CAST((-SUM(lp)) // COUNT(*) AS BIGINT) AS avg_nll_u6
        |FROM l GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "x3_bigram_lm" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w
        |  FROM documents),
        |bi AS (SELECT w[i] AS a, w[i+1] AS b, COUNT(*) AS nab
        |  FROM d, LATERAL unnest(range(1, len(w))) r(i) GROUP BY 1, 2),
        |heads AS (SELECT a, SUM(nab) AS na FROM bi GROUP BY 1
        |  ORDER BY na DESC, a LIMIT 10),
        |r AS (SELECT bi.a, bi.b, bi.nab, heads.na,
        |    row_number() OVER (PARTITION BY bi.a ORDER BY bi.nab DESC, bi.b) AS rk
        |  FROM bi JOIN heads ON heads.a = bi.a)
        |SELECT a, CAST(rk AS BIGINT) AS rk, b, nab,
        |  CAST((nab * 1000000) // na AS BIGINT) AS p_ppm
        |FROM r WHERE rk <= 3 ORDER BY a, rk""".stripMargin,

    "x3_near_search" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w
        |  FROM documents),
        |pa AS (SELECT doc_id, unnest([i FOR i IN range(1, len(w) + 1) IF w[i] = 'vector']) AS p
        |  FROM d),
        |pb AS (SELECT doc_id, unnest([i FOR i IN range(1, len(w) + 1) IF w[i] = 'merge']) AS p
        |  FROM d),
        |j AS (SELECT pa.doc_id, abs(pa.p - pb.p) AS dist
        |  FROM pa JOIN pb ON pa.doc_id = pb.doc_id
        |  WHERE abs(pa.p - pb.p) <= 5)
        |SELECT doc_id, COUNT(*) AS n_pairs, CAST(MIN(dist) AS BIGINT) AS min_dist
        |FROM j GROUP BY 1 ORDER BY n_pairs DESC, doc_id LIMIT 20""".stripMargin,

    "x3_phrase_search" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    len([i FOR i IN range(1, len(w)) IF w[i] = 'table' AND w[i+1] = 'hash']) AS n_occurrences
        |  FROM d)
        |SELECT doc_id, CAST(n_occurrences AS BIGINT) AS n_occurrences
        |FROM m WHERE n_occurrences > 0
        |ORDER BY n_occurrences DESC, doc_id LIMIT 20""".stripMargin,
    // the segmented fold must reproduce the one-shot build bit for bit
    "x3_index_incremental" -> Bm25OracleSql,

    "x3_bpe_train" ->
      """WITH w AS (SELECT word, COUNT(*) AS freq FROM (
        |    SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS word
        |    FROM documents) WHERE regexp_full_match(word, '[a-z]+') GROUP BY 1),
        |e0 AS (SELECT word, freq, regexp_replace(word, '(.)', '<\1>', 'g') AS enc FROM w),
        |p1 AS (SELECT p.a AS a, p.b AS b, SUM(freq) AS c FROM (
        |    SELECT freq, unnest([{'a': s[i], 'b': s[i+1]} FOR i IN range(1, len(s))]) AS p FROM (
        |      SELECT freq, string_split(substr(enc, 2, length(enc) - 2), '><') AS s FROM e0))
        |  GROUP BY 1, 2),
        |t1 AS (SELECT a, b, c FROM p1 ORDER BY c DESC, a, b LIMIT 1),
        |e1 AS (SELECT word, freq, replace(enc, '<' || t1.a || '><' || t1.b || '>', '<' || t1.a || t1.b || '>') AS enc FROM e0, t1),
        |p2 AS (SELECT p.a AS a, p.b AS b, SUM(freq) AS c FROM (
        |    SELECT freq, unnest([{'a': s[i], 'b': s[i+1]} FOR i IN range(1, len(s))]) AS p FROM (
        |      SELECT freq, string_split(substr(enc, 2, length(enc) - 2), '><') AS s FROM e1))
        |  GROUP BY 1, 2),
        |t2 AS (SELECT a, b, c FROM p2 ORDER BY c DESC, a, b LIMIT 1),
        |e2 AS (SELECT word, freq, replace(enc, '<' || t2.a || '><' || t2.b || '>', '<' || t2.a || t2.b || '>') AS enc FROM e1, t2),
        |p3 AS (SELECT p.a AS a, p.b AS b, SUM(freq) AS c FROM (
        |    SELECT freq, unnest([{'a': s[i], 'b': s[i+1]} FOR i IN range(1, len(s))]) AS p FROM (
        |      SELECT freq, string_split(substr(enc, 2, length(enc) - 2), '><') AS s FROM e2))
        |  GROUP BY 1, 2),
        |t3 AS (SELECT a, b, c FROM p3 ORDER BY c DESC, a, b LIMIT 1),
        |e3 AS (SELECT word, freq, replace(enc, '<' || t3.a || '><' || t3.b || '>', '<' || t3.a || t3.b || '>') AS enc FROM e2, t3),
        |sym AS (SELECT sym, SUM(freq) AS n FROM (
        |    SELECT freq, unnest(string_split(substr(enc, 2, length(enc) - 2), '><')) AS sym FROM e3)
        |  GROUP BY 1 ORDER BY n DESC, sym LIMIT 20),
        |syr AS (SELECT 'symbol' AS kind, CAST(row_number() OVER (ORDER BY n DESC, sym) AS BIGINT) AS rk,
        |  sym AS txt, n FROM sym)
        |SELECT kind, CAST(rk AS BIGINT) AS rk, txt, CAST(n AS BIGINT) AS n FROM (
        |  SELECT 'merge' AS kind, 1 AS rk, a || '+' || b AS txt, c AS n FROM t1
        |  UNION ALL SELECT 'merge', 2, a || '+' || b, c FROM t2
        |  UNION ALL SELECT 'merge', 3, a || '+' || b, c FROM t3
        |  UNION ALL SELECT kind, rk, txt, n FROM syr)
        |ORDER BY kind, rk""".stripMargin,

    "x3_hybrid_rrf" ->
      s"""WITH bm AS ($Bm25OracleSql),
         |br AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r_lex FROM bm),
         |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         |sims AS (SELECT vec_id AS doc_id,
         |    round(list_dot_product(embedding::DOUBLE[], q.qv) /
         |          (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
         |           sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
         |  FROM embeddings, q WHERE vec_id <> 0
         |  ORDER BY sim DESC, doc_id LIMIT 20),
         |vr AS (SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS r_vec FROM sims)
         |SELECT COALESCE(br.doc_id, vr.doc_id) AS doc_id,
         |  CAST(COALESCE(1000000 // (60 + br.r_lex), 0)
         |     + COALESCE(1000000 // (60 + vr.r_vec), 0) AS BIGINT) AS rrf,
         |  CAST(COALESCE(br.r_lex, 0) AS BIGINT) AS r_lex,
         |  CAST(COALESCE(vr.r_vec, 0) AS BIGINT) AS r_vec
         |FROM br FULL OUTER JOIN vr ON br.doc_id = vr.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,

    "x3_keyword_search" ->
      """WITH toks AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |       WHERE term IN ('vector', 'stream', 'merge') GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT tf.doc_id AS doc_id,
        |  CAST(SUM(tf.tf * ((n.n_docs * 1000) // df.df)) AS BIGINT) AS score,
        |  COUNT(*) AS n_terms
        |FROM tf JOIN df USING (term) CROSS JOIN n
        |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "x3_weighted_sample" ->
      """WITH d AS (SELECT doc_id, lang, text,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS BIGINT) AS w
        |  FROM documents),
        |c AS (SELECT doc_id, lang, w,
        |        SUM(w) OVER (ORDER BY md5(text), doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |        (SELECT SUM(w) FROM d) AS tw
        |      FROM d)
        |SELECT doc_id, lang, w FROM c
        |WHERE (cw // (tw // 20)) > ((cw - w) // (tw // 20))
        |ORDER BY doc_id""".stripMargin,

    "x3_seq_pack" ->
      """WITH d AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS BIGINT) AS w
        |  FROM documents),
        |c AS (SELECT doc_id, w,
        |        SUM(w) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM d WHERE w > 0),
        |seg AS (SELECT doc_id, w, cum, cum - w AS strt,
        |        unnest(range(CAST((cum - w) // 256 AS BIGINT), CAST((cum - 1) // 256 + 1 AS BIGINT))) AS pack
        |        FROM c),
        |st AS (SELECT pack, doc_id,
        |        least(cum, (pack + 1) * 256) - greatest(strt, pack * 256) AS seg_tokens
        |       FROM seg)
        |SELECT pack, COUNT(*) AS n_segments, CAST(SUM(seg_tokens) AS BIGINT) AS n_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM st GROUP BY 1 ORDER BY pack""".stripMargin,

    "x3_sample_per_group" ->
      """SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id
        |FROM (SELECT lang, doc_id,
        |        row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk
        |      FROM documents) t
        |WHERE rk <= 3 ORDER BY lang, rk""".stripMargin,

    // fold = first two md5 bytes mod 5 (mirror of Sampling.foldColumn)
    "x3_kfold" ->
      """SELECT lang,
        |CAST(('0x' || substr(md5(text), 1, 4))::BIGINT % 5 AS BIGINT) AS fold,
        |COUNT(*) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "x3_pii_redact" ->
      """WITH a AS (SELECT doc_id,
        |  text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or call 555-' ||
        |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now.' ||
        |  CASE WHEN doc_id % 3 = 0 THEN ' cc admin' || CAST(doc_id AS VARCHAR) || '@example.org' ELSE '' END AS aug
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(aug, '\b555-[0-9]{4}\b')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(aug,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b555-[0-9]{4}\b', '[PHONE]', 'g')) AS fp
        |FROM a ORDER BY doc_id""".stripMargin,

    "x3_repetition" ->
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w FROM documents),
        |base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
        |         CAST(len(w) - len(list_distinct(w)) AS BIGINT) AS dup_words FROM d),
        |g AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS gram
        |      FROM d WHERE len(w) >= 2),
        |gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
        |gm AS (SELECT doc_id, MAX(c) AS m FROM gc GROUP BY 1)
        |SELECT base.doc_id AS doc_id, n_words, dup_words,
        |       CAST(COALESCE(gm.m, 0) AS BIGINT) AS top_bigram_cnt
        |FROM base LEFT JOIN gm ON base.doc_id = gm.doc_id ORDER BY base.doc_id""".stripMargin,

    "x3_corpus_drift" ->
      """WITH t AS (SELECT doc_id < 400 AS base,
        |  unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS tok
        |  FROM documents),
        |c AS (SELECT tok,
        |        SUM(CASE WHEN base THEN 1 ELSE 0 END) AS c_base,
        |        SUM(CASE WHEN base THEN 0 ELSE 1 END) AS c_new
        |      FROM t GROUP BY 1),
        |g AS (SELECT SUM(c_base) AS t_base, SUM(c_new) AS t_new FROM c),
        |r AS (SELECT tok, c_base, c_new,
        |        row_number() OVER (ORDER BY c_base + c_new DESC, tok) AS rk
        |      FROM c)
        |SELECT tok,
        |  CAST(c_base * 1000000 // t_base AS BIGINT) AS ppm_base,
        |  CAST(c_new * 1000000 // t_new AS BIGINT) AS ppm_new,
        |  CAST(abs(c_base * 1000000 // t_base - c_new * 1000000 // t_new) AS BIGINT) AS drift_ppm
        |FROM r, g WHERE rk <= 30 ORDER BY tok""".stripMargin,

    "x3_dsir_select" ->
      """WITH d AS (SELECT doc_id, source,
        |  list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w FROM documents),
        |g AS (SELECT doc_id, source,
        |        unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS gram
        |      FROM d WHERE len(w) >= 2),
        |bk AS (SELECT doc_id, source, ('0x' || substr(md5(gram), 1, 4))::INT % 1024 AS b FROM g),
        |pb AS (SELECT b, COUNT(*) AS cr,
        |         SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct
        |       FROM bk GROUP BY 1),
        |t AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM pb),
        |wt AS (SELECT b, (CAST(ct + 1 AS HUGEINT) * (nr + 1024) * 1000) // ((cr + 1) * (nt + 1024)) AS w FROM pb, t),
        |db AS (SELECT doc_id, b, COUNT(*) AS n FROM bk GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(n * w) AS BIGINT) AS score, CAST(SUM(n) AS BIGINT) AS n_grams
        |FROM db JOIN wt USING (b)
        |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 25""".stripMargin,

    "x3_gopher_rules" ->
      """WITH d AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w,
        |  string_split(text, chr(10)) AS ls FROM documents),
        |f AS (SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_words,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT) AS wchars,
        |  CAST(length(text) - length(replace(text, '#', ''))
        |       + len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) AS n_sym,
        |  CAST(len(list_filter(ls, l -> regexp_matches(l, '^\s*[-*]'))) AS BIGINT) AS n_bullet,
        |  CAST(len(list_filter(ls, l -> ends_with(rtrim(l), '...'))) AS BIGINT) AS n_ell,
        |  CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
        |  CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |       s -> list_contains(w, s))) AS BIGINT) AS n_stop
        |  FROM d)
        |SELECT doc_id, n_words,
        |  n_words >= 50 AND n_words <= 100000 AS r_wc,
        |  wchars >= n_words * 3 AND wchars <= n_words * 10 AS r_mwl,
        |  n_sym * 10 <= n_words AS r_sym,
        |  n_bullet * 10 <= n_lines * 9 AS r_bullet,
        |  n_ell * 10 <= n_lines * 3 AS r_ellipsis,
        |  n_alpha * 5 >= n_words * 4 AS r_alpha,
        |  n_stop >= 2 AS r_stop,
        |  (n_words >= 50 AND n_words <= 100000) AND (wchars >= n_words * 3 AND wchars <= n_words * 10)
        |    AND n_sym * 10 <= n_words AND n_bullet * 10 <= n_lines * 9
        |    AND n_ell * 10 <= n_lines * 3 AND n_alpha * 5 >= n_words * 4
        |    AND n_stop >= 2 AS pass
        |FROM f ORDER BY doc_id""".stripMargin,

    "x3_mixture" ->
      """WITH t AS (SELECT CAST(substring(source, 4) AS INT) % 4 AS tier, source, doc_id,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS BIGINT) AS n_tok,
        |    md5(text) AS h FROM documents),
        |c AS (SELECT *, SUM(n_tok) OVER (PARTITION BY tier ORDER BY h, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t),
        |s AS (SELECT * FROM c WHERE cum <=
        |    (CASE tier WHEN 0 THEN 40 WHEN 1 THEN 30 WHEN 2 THEN 20 ELSE 10 END) * 200)
        |SELECT tier, source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tokens
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the mixing worksheet: per-tier availability vs declared shares
    // against a half-corpus budget; HUGEINT routes target*1e6
    "x3_token_budget" ->
      """WITH t AS (SELECT CAST(substring(source, 4) AS INT) % 4 AS tier,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |b AS (SELECT tier, COUNT(*) AS n_docs, SUM(n_tok) AS avail_tok FROM t GROUP BY 1),
        |g AS (SELECT SUM(avail_tok) AS corpus_tok FROM b),
        |p AS (SELECT tier, n_docs, avail_tok,
        |    CASE tier WHEN 0 THEN 40 WHEN 1 THEN 30 WHEN 2 THEN 20 ELSE 10 END AS share_pct,
        |    ((corpus_tok // 2) * (CASE tier WHEN 0 THEN 40 WHEN 1 THEN 30 WHEN 2 THEN 20 ELSE 10 END)) // 100 AS target_tok
        |  FROM b, g)
        |SELECT tier, CAST(n_docs AS BIGINT) AS n_docs, CAST(avail_tok AS BIGINT) AS avail_tok,
        |  CAST(share_pct AS BIGINT) AS share_pct, CAST(target_tok AS BIGINT) AS target_tok,
        |  CAST(LEAST(1000000, (CAST(target_tok AS HUGEINT) * 1000000) // avail_tok) AS BIGINT) AS rate_ppm,
        |  CAST((CAST(target_tok AS HUGEINT) * 1000000) // avail_tok AS BIGINT) AS epochs_ppm,
        |  CAST(GREATEST(0, target_tok - avail_tok) AS BIGINT) AS deficit_tok
        |FROM p ORDER BY tier""".stripMargin,

    // truncation accounting at L=256, per language
    "x3_truncation_waste" ->
      """WITH t AS (SELECT lang,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS BIGINT) AS t
        |  FROM documents),
        |f AS (SELECT lang, COUNT(*) AS n_docs, SUM(t) AS total_tok,
        |    SUM(LEAST(t, 256)) AS kept_tok, SUM(GREATEST(t - 256, 0)) AS waste_tok,
        |    SUM(CASE WHEN t > 256 THEN 1 ELSE 0 END) AS n_truncated
        |  FROM t GROUP BY 1)
        |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, CAST(total_tok AS BIGINT) AS total_tok,
        |  CAST(kept_tok AS BIGINT) AS kept_tok, CAST(waste_tok AS BIGINT) AS waste_tok,
        |  CAST(n_truncated AS BIGINT) AS n_truncated,
        |  CAST((waste_tok * 1000000) // total_tok AS BIGINT) AS waste_ppm
        |FROM f ORDER BY lang""".stripMargin,

    // sorted round-robin shard assignment: rank by tokens desc, mod 8
    "x3_balanced_shards" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |r AS (SELECT doc_id, n_tok,
        |    (ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id) - 1) % 8 AS shard
        |  FROM t)
        |SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS shard_tok,
        |  CAST(MIN(n_tok) AS BIGINT) AS min_tok, CAST(MAX(n_tok) AS BIGINT) AS max_tok
        |FROM r GROUP BY 1 ORDER BY shard""".stripMargin,

    "x3_pack_sequences" ->
      """WITH t AS (SELECT lang, doc_id,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT lang, doc_id, n_tok,
        |  COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM t)
        |SELECT lang, CAST(cum_before // 512 AS BIGINT) AS bin,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
