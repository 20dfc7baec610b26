package graft.ops.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import TextFns._

/** Corpus-preparation operators for the training-data pipeline surface:
  * repetition scoring (Gopher-style filter rule), vocabulary statistics,
  * fixed-window document chunking, deterministic train/val/test splitting,
  * and PII scrubbing.
  *
  * Scale posture: repetition/chunking/splitting/scrubbing are per-document
  * map work (codegen'd built-ins, no UDFs, no shuffle — linear in corpus
  * size, embarrassingly parallel). `vocab` is the one shuffle in this
  * module: an exploded token groupBy with map-side partial aggregation, so
  * the shuffle carries one row per (partition, distinct term) — bounded by
  * vocabulary size, not corpus size — and top-k compiles to
  * TakeOrderedAndProject (per-partition heap + driver merge of k rows,
  * never a full sort).
  */
object Corpus {

  /** Within-document repetition: the duplicate word-n-gram ratio, the
    * signal behind Gopher's repetition filter rules (boilerplate and
    * looping generations score high). Docs with fewer than n tokens have
    * no n-grams and score 0.
    */
  def repetitionStats(documents: DataFrame, n: Int = 2): DataFrame = {
    val ng = col("ng")
    documents
      .withColumn("toks", tokens(col("text")))
      .withColumn("ng", shingles(col("toks"), n))
      .select(
        col("doc_id"),
        size(ng).as("n_ngrams"),
        size(array_distinct(ng)).as("n_distinct_ngrams"),
        when(size(ng) > 0,
          lit(1.0) - size(array_distinct(ng)).cast("double") / size(ng))
          .otherwise(lit(0.0)).as("dup_ngram_ratio"))
  }

  /** Top-n-gram character coverage — Gopher's OTHER repetition rule
    * (Rae et al. 2021 §A1.1: "fraction of characters contained within
    * the most frequently-occurring n-gram"), the within-doc signal
    * [[repetitionStats]]' duplicate-n-gram ratio misses: a page whose
    * single nav string repeats 40 times has a HIGH top-n-gram share
    * even when its remaining text is diverse. Per document: its most
    * frequent n-gram (ties to the lexicographically LAST — UTF-8 byte
    * order on both engines), that n-gram's occurrence count, and the
    * token-character share those occurrences cover, capped at 1.0
    * (overlapping occurrences can over-count — "a a a" has two "a a"
    * bigrams over three characters; the cap keeps the rule's [0,1]
    * contract). Docs with no n-grams carry NULLs.
    *
    * Scale posture: one (doc, ngram) combinable count + one per-doc
    * combinable `max_by` argmax — never a per-doc window — plus one
    * doc-keyed join back to the character totals. Everything is exact
    * integer arithmetic into one guarded division.
    */
  def topNgramStats(documents: DataFrame, n: Int = 2): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    val toks = documents.select(col("doc_id"), tokens(col("text")).as("t"))
    val counts = toks
      .select(col("doc_id"), explode(shingles(col("t"), n)).as("ng"))
      .groupBy("doc_id", "ng").agg(count(lit(1)).as("cnt"))
    val top = counts.groupBy("doc_id")
      .agg(sum("cnt").cast("int").as("n_ngrams"),
        max_by(struct(col("ng"), col("cnt")),
          struct(col("cnt"), col("ng"))).as("m"))
      .select(col("doc_id"), col("n_ngrams"),
        col("m.ng").as("top_ngram"), col("m.cnt").as("top_cnt"))
    toks.select(col("doc_id"),
        length(concat_ws("", col("t"))).as("tok_chars"))
      .join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"), col("top_ngram"),
        col("top_cnt"),
        when(col("top_cnt").isNotNull && col("tok_chars") > 0,
          least(lit(1.0),
            (length(translate(col("top_ngram"), " ", "")) * col("top_cnt"))
              .cast("double") / col("tok_chars")))
          .as("top_char_frac"))
  }

  /** Corpus vocabulary: term frequency (total occurrences) and document
    * frequency per term, top `limit` by tf with a deterministic term
    * tie-break. The df count is exact COUNT(DISTINCT doc_id) — at real
    * scale swap for approx_count_distinct, the standard trade (same
    * escape hatch as Relational.hourlyMetricsApprox).
    */
  def vocab(documents: DataFrame, limit: Int = 100): DataFrame =
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(desc("tf"), asc("term"))
      .limit(limit)

  /** Fixed-window token chunking with overlap — the context-window
    * packing step of a pretraining pipeline. Chunk i covers tokens
    * [i*stride+1, i*stride+window] (1-based, truncated at the document's
    * end); every token belongs to at least one chunk, consecutive chunks
    * overlap by window-stride tokens. Documents shorter than one window
    * produce exactly one chunk.
    *
    * Output: (doc_id, chunk_idx, chunk_len, chunk_fp) where chunk_fp is
    * the md5 of the space-joined chunk — enough for the oracle to verify
    * the exact token content of every chunk without shipping the arrays.
    */
  def chunkDocs(documents: DataFrame, window: Int = 32, stride: Int = 24): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val n = size(col("toks"))
    // chunks beyond the first: ceil((n - window) / stride), in integer
    // arithmetic (floor of the loosened numerator) — double division then
    // floor is exact at any realistic token count (n < 2^52).
    val extra = floor(((n - lit(window) + lit(stride - 1)).cast("double") / lit(stride)))
      .cast("int")
    val nChunks = when(n <= lit(window), lit(1)).otherwise(extra + lit(1))
    val chunk = slice(col("toks"), col("chunk_idx") * lit(stride) + lit(1), lit(window))
    documents
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), nChunks - lit(1))).as("chunk_idx"))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        size(chunk).as("chunk_len"),
        md5(concat_ws(" ", chunk)).as("chunk_fp"))
  }

  /** Deterministic hash-based train/val/test split: bucket = the first 4
    * hex chars of md5(id) (16 bits, uniform), compared lexicographically
    * against percentage thresholds. Properties that matter for corpus
    * curation: stable (a document's split never changes as the corpus
    * grows — no rand(), no row ordering dependence), engine-portable
    * (md5 hex is identical everywhere, so the oracle and any downstream
    * consumer agree row for row), and shuffle-free.
    */
  def hashSplit(df: DataFrame, idCol: String = "doc_id",
                trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"bad split percentages train=$trainPct val=$valPct")
    // 100% maps to 65536 = "10000" — five chars, which compares BELOW
    // every 4-char hex bucket lexicographically and would misroute the
    // whole split; "g" sorts after every hex digit and means "all".
    def hi(pct: Int): String =
      if (pct >= 100) "g" else f"${65536L * pct / 100}%04x"
    val trainHi = hi(trainPct)
    val valHi = hi(trainPct + valPct)
    df.withColumn("bucket", substring(md5(col(idCol).cast("string")), 1, 4))
      .withColumn("split",
        when(col("bucket") < trainHi, "train")
          .when(col("bucket") < valHi, "val")
          .otherwise("test"))
  }

  /** Concat-and-split sequence packing — the standard pretraining step
    * that turns a ragged corpus into fixed-length training sequences:
    * documents are concatenated in a deterministic order and the token
    * stream is cut every `seqLen` tokens, so documents may straddle a
    * sequence boundary (each straddle emits one row per touched
    * sequence). Output: one row per (document, sequence) incidence with
    * the document's within-sequence token span `[tok_start, tok_end)`;
    * every sequence except a bucket's last is exactly `seqLen` tokens —
    * zero padding waste, the property that makes this layout the default
    * for LLM pretraining over chunk-then-pad.
    *
    * Scale: a single GLOBAL concatenation order would serialize the
    * cumulative sum through one partition — the classic 100 TB
    * bottleneck. Instead documents are bucketed by the first
    * `bucketChars` hex chars of md5(doc_id) (16^bucketChars independent
    * streams; 1 char for test fixtures, 3-4 at corpus scale) and packed
    * within each bucket: the running-sum window partitions by bucket, so
    * the one shuffle hash-distributes buckets and each sorts locally.
    * Order within a bucket is (md5, doc_id) — fully deterministic, stable
    * under any input partitioning, and engine-portable (the md5-hex
    * convention shared with [[hashSplit]]/[[mixtureResample]], which is
    * what lets a DuckDB oracle reproduce the packing row for row). The
    * boundary explode is narrow (no second shuffle); rows out = docs +
    * boundary crossings.
    */
  def packTokens(documents: DataFrame, seqLen: Int = 128,
                 bucketChars: Int = 1): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    require(bucketChars >= 1 && bucketChars <= 8,
      s"bucketChars must be in [1,8], got $bucketChars")
    import org.apache.spark.sql.expressions.Window
    val L = lit(seqLen.toLong)
    val cum = Window.partitionBy("bucket").orderBy("h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    documents
      .select(
        col("doc_id"),
        md5(col("doc_id").cast("string")).as("h"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("bucket", substring(col("h"), 1, bucketChars))
      .withColumn("tok_offset", coalesce(sum(col("n_tokens")).over(cum), lit(0L)))
      // sequences this doc touches: floor(first_token/L) .. floor(last_token/L)
      // (n_tokens >= 1 always — split("", " ") is [""] — so last = end - 1
      // is well-defined); nonneg longs < 2^53, so double-divide + floor is
      // exact integer division in both engines.
      .withColumn("seq_id", explode(sequence(
        floor(col("tok_offset") / L).cast("long"),
        floor((col("tok_offset") + col("n_tokens") - lit(1L)) / L).cast("long"))))
      .select(
        col("bucket"),
        col("seq_id"),
        col("doc_id"),
        greatest(col("tok_offset") - col("seq_id") * L, lit(0L)).as("tok_start"),
        (least(col("tok_offset") + col("n_tokens"), (col("seq_id") + lit(1L)) * L)
          - col("seq_id") * L).as("tok_end"))
  }

  /** Rule-based corpus filter (the Gopher/Dolma-style "mixer" gate):
    * every document gets a keep/drop decision plus the list of fired
    * rules, so curation is auditable (drop-rate per rule, per source) and
    * re-runnable with different thresholds. Pure per-document map work —
    * the decision column composes the same staged signals the individual
    * operators expose (token counts, duplicate-n-gram ratio, type-token
    * ratio), computed once per doc.
    *
    * `reasons` is a comma-joined, fixed-order string (concat_ws skips
    * non-fired NULL slots identically in Spark and DuckDB), empty when
    * kept.
    */
  def filterCorpus(documents: DataFrame, minTokens: Int = 20,
                   maxTokens: Int = 90, maxDupRatio: Double = 0.06,
                   minTtr: Double = 0.45): DataFrame = {
    val toks = col("toks")
    val ng = col("ng")
    val nTok = size(toks)
    val dupRatio = when(size(ng) > 0,
      lit(1.0) - size(array_distinct(ng)).cast("double") / size(ng))
      .otherwise(lit(0.0))
    val ttr = size(array_distinct(toks)).cast("double") / nTok
    val reasons = concat_ws(",",
      when(nTok < minTokens, "too_short"),
      when(nTok > maxTokens, "too_long"),
      when(dupRatio > maxDupRatio, "repetitive"),
      when(ttr < minTtr, "low_diversity"))
    documents
      .withColumn("toks", tokens(col("text")))
      .withColumn("ng", shingles(toks, 2))
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        dupRatio.as("dup_ngram_ratio"),
        ttr.as("type_token_ratio"),
        (reasons === "").as("keep"),
        reasons.as("reasons"))
  }

  /** Per-language corpus shape statistics with exact interpolated
    * percentiles — the distribution snapshot a curation run reports per
    * shard. Exact `percentile` buffers each group's value multiset, which
    * is fine for bounded metadata like document lengths; at 100 TB over
    * high-cardinality values swap in `approx_percentile` (t-digest,
    * mergeable map-side) — same query shape, documented accuracy trade.
    * Linear interpolation at rank q·(n−1) matches DuckDB `quantile_cont`
    * bit for bit (verified: both engines emit identical 424.4 /
    * 481.90000000000003-style doubles on the fixtures).
    */
  def corpusStats(documents: DataFrame): DataFrame =
    documents.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      expr("percentile(n_chars, 0.25)").as("p25_chars"),
      expr("percentile(n_chars, 0.5)").as("median_chars"),
      expr("percentile(n_chars, 0.9)").as("p90_chars"),
      (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))

  /** Per-document distinctive terms: top-k terms by a rarity-weighted
    * score, the selection step behind keyword extraction / topic tagging
    * in a curation pipeline. The score is tf·(N/df) — classic tf-idf with
    * the log dropped: ln() is a transcendental whose last ulp differs
    * across libm implementations, while division and multiplication are
    * IEEE-754 basic ops, correctly rounded everywhere, so this score is
    * bit-identical in any engine (the log variant ranks identically —
    * x ↦ ln is monotone — it only rescales the score).
    *
    * Scale: the doc×term explode is the dominant cost (linear in corpus
    * tokens, map-side combinable into per-doc counts); the df table is
    * vocabulary-sized → broadcast to the tf side, no second corpus
    * shuffle; the per-doc top-k compiles to WindowGroupLimit (k rows per
    * doc survive each partition BEFORE the window shuffle).
    */
  def distinctiveTerms(documents: DataFrame, k: Int = 3): DataFrame = {
    val tok = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tok.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
    val n = documents.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf") * (col("n_docs").cast("double") / col("df")))
    graft.ops.Relational
      .topKPerGroup(scored, Seq("doc_id"), Seq(desc("score"), asc("term")), k)
      .withColumnRenamed("rank", "term_rank")
      .select("doc_id", "term_rank", "term", "tf", "df", "score")
  }

  /** Windowed token co-occurrence with a log-free association score —
    * the corpus statistic behind word2vec/GloVe-style embedding training
    * and collocation mining ("which words keep company?"). For every
    * unordered token pair co-occurring within `window` positions, emits
    * the positional pair count, both unigram counts, and the LIFT
    * p(a,b) / (p(a)·p(b)) — the PMI argument without the log, exact in
    * one shared IEEE division tree (the histogramDrift / distinctiveTerms
    * parity rule: transcendentals never reach a compared column; callers
    * wanting PMI take log(lift) themselves).
    *
    * Probabilities: p(a,b) = pair_cnt / P with P the corpus's total
    * positional pair slots, p(w) = c(w) / N with N total token positions
    * — so lift = (pair_cnt · N²) / (P · c₁ · c₂), built from exact
    * integer counts with double promotion at fixed points.
    *
    * Scale posture (100 TB): pair generation is a per-document
    * higher-order function (nested transform + flatten — codegen'd map
    * work, NO positional self-join: the naive pos⋈pos plan the oracle
    * runs would shuffle the token stream twice and explode on long docs).
    * Then two map-side-combinable aggregates — pair counts (bounded by
    * observed pair vocabulary, not corpus size) and unigram counts — and
    * two shuffle_hash joins of the pair table against the unigram table
    * (corpus-scale vocabularies never broadcast). N and P fold from the
    * two count tables themselves: no second corpus scan. `minPairCount`
    * prunes the hapax-pair tail AFTER the totals, so scores are
    * unaffected by the cut.
    */
  def cooccurrence(documents: DataFrame, window: Int = 4,
                   minPairCount: Long = 2): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val t = col("toks")
    val pairsOf = when(size(t) >= 2,
      flatten(transform(sequence(lit(1), size(t) - lit(1)), i =>
        transform(sequence(i + lit(1), least(i + lit(window), size(t))), j =>
          struct(
            least(element_at(t, i), element_at(t, j)).as("w1"),
            greatest(element_at(t, i), element_at(t, j)).as("w2"))))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val pc = documents
      .withColumn("toks", tokens(col("text")))
      .select(explode(pairsOf).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("pair_cnt"))
    val uni = documents
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    // Scalar totals fold from the aggregated tables (vocab-bounded), not
    // from a second corpus scan.
    val totals = broadcast(
      uni.agg(sum(col("c")).as("n_pos"))
        .crossJoin(pc.agg(sum(col("pair_cnt")).as("p_slots"))))
    pc.filter(col("pair_cnt") >= minPairCount)
      .join(uni.select(col("term"), col("c").as("c1")).hint("shuffle_hash"),
        col("w1") === col("term")).drop("term")
      .join(uni.select(col("term"), col("c").as("c2")).hint("shuffle_hash"),
        col("w2") === col("term")).drop("term")
      .crossJoin(totals) // pair table x 1-row totals: constant-size build
      .select(col("w1"), col("w2"), col("pair_cnt"), col("c1"), col("c2"),
        (col("pair_cnt").cast("double") * col("n_pos") * col("n_pos") /
          (col("p_slots").cast("double") * col("c1") * col("c2")))
          .as("lift"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004, "TextRank:
    * Bringing Order into Text"): [[graft.ops.Graph.linkRank]] over the
    * window-`window` token co-occurrence graph — terms that co-occur
    * with many well-connected terms rank highest, the classic
    * unsupervised keyphrase signal a curation pipeline reports per
    * shard (topic drift shows up as keyword churn before it shows up
    * in loss). Composes [[cooccurrence]] (pair counts, `minPairCount`
    * floor) as the symmetric weighted edge set with the integer-mass
    * authority rounds — so the whole extraction inherits linkRank's
    * bit-exact cross-engine replay (the oracle chains the q_cooccur
    * CTEs into the q_linkrank rounds at term grain).
    *
    * Output: (rank, term, mass) — the `topK` heaviest terms, rank by
    * (mass DESC, term). Isolated terms (no qualifying pair) are
    * dangling nodes: they keep teleport-floor mass and never make a
    * real top-k.
    *
    * Scale posture: the graph is VOCABULARY-sized (nodes = distinct
    * terms, edges = qualifying pairs), so the rounds run over
    * relations orders of magnitude smaller than the corpus; the one
    * corpus-sized cost is the pair-count scan [[cooccurrence]] already
    * pays. The final top-k plans as TakeOrderedAndProject over the mass
    * table; only the <= topK survivors see a rank window (the
    * bm25ScoreWeighted shape — the vocabulary itself is corpus-unbounded
    * by Heaps' law, so a global rank window over it would serialize
    * billions of rows through one task at web scale).
    */
  def textRank(documents: DataFrame, window: Int = 3,
               minPairCount: Long = 2, topK: Int = 50, iters: Int = 3,
               base: Long = 1000000L, dampNum: Long = 85L,
               dampDen: Long = 100L): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val pc = cooccurrence(documents, window, minPairCount)
      .select(col("w1"), col("w2"), col("pair_cnt"))
    val edges = pc.select(col("w1").as("src"), col("w2").as("dst"),
        col("pair_cnt").as("weight"))
      .unionAll(pc.select(col("w2").as("src"), col("w1").as("dst"),
        col("pair_cnt").as("weight")))
    val nodes = documents
      .select(explode(tokens(col("text"))).as("node")).distinct()
    val ranked = graft.ops.Graph.linkRank(nodes, edges, iters, base,
      dampNum, dampDen)
    // Global top-k as TakeOrderedAndProject FIRST (the vocabulary is
    // corpus-unbounded — Heaps' law), then rank only the <= topK
    // survivors: the bm25ScoreWeighted shape, never a full-vocab
    // single-partition window.
    val top = ranked.orderBy(col("mass").desc, col("node").asc).limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("mass").desc, col("node").asc)
    top
      .withColumn("rank", row_number().over(w).cast("int"))
      .select(col("rank"), col("node").as("term"), col("mass"))
  }

  /** Mixture resampling — the "data mixing" step that reweights corpus
    * sources/languages to a target distribution by deterministic
    * replication: weight w gives every doc ⌊w⌋ copies plus one more iff
    * its 16-bit md5 bucket falls below frac(w) of the hash space (the
    * same stable, engine-portable bucket as [[hashSplit]] — a doc's copy
    * count never changes as the corpus grows and never depends on row
    * order). Weight 0 / unlisted languages drop. Expected copy count per
    * doc is exactly w (up to the 1/65536 threshold quantization).
    *
    * Scale: pure map + explode — no shuffle at all; replication factor
    * is the mixture weight, decided per row from the hash, so the output
    * is written straight back out without any driver-side sampling state.
    */
  /** Temperature-based mixture design — the multilingual-pretraining
    * weighting p_l ∝ share_l^α that upsamples tail languages and
    * downsamples the head (mT5/XLM-R's sampling temperature): per
    * language, the corpus share, the temperature weight, and the
    * resample factor (weight / share) to hand to [[mixtureResample]].
    *
    * α is restricted to 2^-halvings (0.5, 0.25, 0.125 …): share^α is
    * then a chain of IEEE sqrt's — each CORRECTLY ROUNDED, so the whole
    * table is bit-reproducible cross-engine, where an arbitrary-α
    * `pow()` is transcendental and excluded by the parity policy. The
    * common 0.2–0.5 temperature range is bracketed; the normalizer Z
    * folds in language-alphabetical order (float + is not associative —
    * an unordered SUM would be run-dependent).
    *
    * Scale: one combinable lang-count aggregate; everything after is
    * |langs|-row arithmetic on 1-row broadcasts.
    */
  def temperatureMixture(documents: DataFrame, halvings: Int = 2,
      langCol: String = "lang"): DataFrame = {
    require(halvings >= 1 && halvings <= 4,
      s"halvings must be in [1, 4] (alpha = 2^-halvings), got $halvings")
    val counts = documents.groupBy(langCol).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(col("n_docs")).as("n_total"))
    val w = counts.crossJoin(broadcast(tot))
      .withColumn("share", col("n_docs").cast("double") / col("n_total"))
      .withColumn("w_raw",
        (1 to halvings).foldLeft(col("share"))((c, _) => sqrt(c)))
    val z = w.agg(
      aggregate(
        transform(
          sort_array(collect_list(struct(col(langCol), col("w_raw")))),
          s => s.getField("w_raw")),
        lit(0.0), (acc, x) => acc + x).as("z"))
    w.crossJoin(broadcast(z))
      .select(col(langCol), col("n_docs"), col("share"),
        (col("w_raw") / col("z")).as("weight"),
        ((col("w_raw") / col("z")) / col("share")).as("factor"))
  }

  def mixtureResample(documents: DataFrame, weights: Map[String, Double],
      langCol: String = "lang", idCol: String = "doc_id"): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(w => w >= 0 && w < 1000),
      s"weights must be in [0, 1000), got $weights")
    val bucket = substring(md5(col(idCol).cast("string")), 1, 4)
    val nCopies = weights.foldLeft(lit(0L)) { case (acc, (lang, w)) =>
      val base = math.floor(w).toLong
      val thresh = f"${(65536L * (w - math.floor(w))).toLong}%04x"
      when(col(langCol) === lang,
        lit(base) + when(bucket < thresh, lit(1L)).otherwise(lit(0L)))
        .otherwise(acc)
    }
    documents
      .withColumn("n_copies", nCopies)
      .filter(col("n_copies") >= 1)
      .select(col(idCol), col(langCol), col("n_copies"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy_idx"))
  }

  /** Benchmark decontamination — flag training documents sharing word
    * n-grams with an evaluation/benchmark set, the standard leakage scan
    * before a pretraining run. Per train doc: the count of DISTINCT
    * n-grams that appear anywhere in the benchmark, and a contaminated
    * flag at `minOverlap`. Docs shorter than n tokens have no n-grams and
    * report 0.
    *
    * Scale: the benchmark n-gram set is eval-suite-sized (millions of
    * shingles at most) → broadcast to the corpus scan, so the whole probe
    * is map-side: explode train shingles, hash-probe the broadcast set,
    * one combinable per-doc count. No corpus-sized shuffle; the right
    * join restoring zero-overlap docs shuffles doc_id only — or swap in
    * a bloom of the benchmark set (functions/BloomFns) when even the
    * exact set is too big to broadcast, accepting one-sided error.
    */
  def decontaminate(train: DataFrame, benchmark: DataFrame, n: Int = 3,
      minOverlap: Int = 1): DataFrame = {
    val sh = array_distinct(shingles(tokens(col("text")), n))
    val benchShingles = benchmark.select(explode(sh).as("sh")).distinct()
    val overlap = train
      .select(col("doc_id"), explode(sh).as("sh"))
      .join(broadcast(benchShingles), Seq("sh"))
      // per-doc shingles are pre-distinct'd, so a plain count is the
      // distinct-overlap count
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    train.select(col("doc_id"))
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") >= minOverlap)
  }

  /** Deterministic epoch shuffle — the training-order op: every
    * pretraining epoch visits the corpus in a fresh pseudo-random order,
    * and that order must be reproducible (resume-from-step, audits) and
    * engine-portable. `shuffle_key = md5(epoch || ':' || doc_id)` is a
    * per-epoch pseudo-random total order (ties impossible: the key is a
    * bijection of the unique id for a fixed epoch, and doc_id breaks any
    * md5-collision tie) — pure map work, no state, no rand().
    *
    * Ordering BY the key is the consumer's choice of physics: at fixture
    * scale an ORDER BY; at 100 TB use [[writeEpochShuffled]], which
    * range-partitions on the key and sorts within partitions — a single
    * range exchange producing globally-ordered files (file i's keys all
    * precede file i+1's), which is how an epoch's worth of training data
    * is actually materialized. Never a global window rank: row_number
    * over an unpartitioned ORDER BY serializes the corpus through one
    * task.
    */
  def epochShuffle(df: DataFrame, epoch: Int, idCol: String = "doc_id"): DataFrame = {
    // guard here, not only in the writer: withColumn would silently
    // REPLACE an existing shuffle_key (e.g. a chained earlier epoch)
    require(!df.columns.contains("shuffle_key"), "input already has a shuffle_key column")
    df.withColumn("shuffle_key",
      md5(concat(lit(epoch.toString), lit(":"), col(idCol).cast("string"))))
  }

  /** Materialize one epoch's training order: range-partition on the
    * shuffle key into `nFiles` globally-ordered files (EpochShuffleSpec
    * asserts cross-file ordering, determinism, and per-epoch difference).
    */
  def writeEpochShuffled(df: DataFrame, epoch: Int, path: String, nFiles: Int,
      idCol: String = "doc_id"): Unit = {
    epochShuffle(df, epoch, idCol)
      .repartitionByRange(nFiles, col("shuffle_key"))
      .sortWithinPartitions("shuffle_key")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
  }

  /** [[decontaminate]]'s scale escape hatch made concrete: when even the
    * benchmark's exact shingle set is too big to broadcast, probe a bloom
    * sketch of it instead. The benchmark side is scanned but never
    * shuffled (map-side partial blooms merge to one row — insertion is
    * idempotent, so no distinct pass either); the sketch is planned as a
    * scalar subquery ([[graft.functions.BloomFns.sketch]]) probed
    * codegen'd in the train scan, exactly the
    * [[graft.ops.Distribution.bloomAntiJoin]] machinery pointed at
    * shingles. Nothing runs here: the sketch is built when the result
    * executes, so an unpinned result rebuilds it on every action. Error
    * is one-sided: blooms have no false negatives, so every truly
    * contaminated doc is flagged (`maybe_contaminated` ⊇
    * exact `contaminated`), while fpp can inflate `n_overlap_max` (an
    * upper bound on the exact distinct-overlap count) and flag clean
    * docs for a second-pass exact check. `expectedShingles` sizes the
    * sketch (~1% fpp at that count).
    */
  def decontaminateBloom(train: DataFrame, benchmark: DataFrame, n: Int = 3,
      minOverlap: Int = 1, expectedShingles: Long = 1L << 20): DataFrame = {
    import graft.functions.BloomFns
    val sh = array_distinct(shingles(tokens(col("text")), n))
    val sketch = BloomFns.sketch(benchmark.select(explode(sh).as("sh")),
      col("sh"), expectedShingles)
    val maybe = train
      .select(col("doc_id"), explode(sh).as("sh"))
      // null sketch = empty benchmark: the probe is NULL, which the filter
      // drops, so nothing can overlap
      .filter(BloomFns.mightContain(sketch, col("sh")))
      // per-doc shingles are pre-distinct'd, so the count bounds the
      // exact distinct overlap from above
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap_max"))
    train.select(col("doc_id"))
      .join(maybe, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap_max"), lit(0L)).as("n_overlap_max"))
      .withColumn("maybe_contaminated", col("n_overlap_max") >= minOverlap)
  }

  /** Scale variant of [[corpusStats]]: t-digest `approx_percentile`
    * (mergeable map-side partials, constant memory per group) instead of
    * exact percentile's per-group value buffer — the drop-in choice when
    * group cardinality or group size makes exact buffering unreasonable.
    * Accuracy is bounded by the `accuracy` knob (1/accuracy relative
    * rank error). Not oracle-comparable cross-engine (sketch
    * implementations differ) → rows-only check; CorpusSpec bounds the
    * error against the exact operator instead.
    */
  def corpusStatsApprox(documents: DataFrame, accuracy: Int = 10000): DataFrame =
    documents.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      expr(s"approx_percentile(n_chars, 0.25, $accuracy)").as("p25_chars"),
      expr(s"approx_percentile(n_chars, 0.5, $accuracy)").as("median_chars"),
      expr(s"approx_percentile(n_chars, 0.9, $accuracy)").as("p90_chars"),
      (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))

  /** PII patterns, RE2-safe (no lookaround, no backreferences) so the
    * exact same pattern strings run in Spark (java.util.regex) and the
    * DuckDB oracle (RE2) with identical matches.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** PII scrubbing: count then redact emails, IPv4 addresses, and
    * NNN-NNN-NNNN phone numbers with typed placeholders. Counts are taken
    * on the original text (each category independent); redaction applies
    * email → ip → phone so an address form never partially matches a later
    * pattern. Pure per-row regex work — codegen'd, no shuffle.
    */
  def piiScrub(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails", matchCount(t, EmailRe))
      .withColumn("n_ips", matchCount(t, Ipv4Re))
      .withColumn("n_phones", matchCount(t, PhoneRe))
      .withColumn(textCol,
        regexp_replace(
          regexp_replace(
            regexp_replace(t, EmailRe, "<EMAIL>"),
            Ipv4Re, "<IP>"),
          PhoneRe, "<PHONE>"))
  }

  /** Deterministic per-row Bernoulli sampling with a per-ROW probability
    * column — "sample proportionally to quality": each row draws a
    * stable uniform u from the first 16 bits of md5(salt:id) and keeps
    * iff u < prob. Generalizes [[mixtureResample]]'s per-LANGUAGE
    * constant weights to row-level probabilities (a quality score, a
    * source trust factor), with the same guarantees: stable under corpus
    * growth and row order, engine-portable (md5-hex convention), and
    * shuffle-free — the decision is made in the scan, so 100 TB samples
    * without any coordination state. Change `salt` to redraw an
    * independent sample. Emits `sample_u` and an `is_sampled` flag
    * (filter on it for the sample; the flag form keeps audits and
    * oracles row-count stable). Probabilities ≥ 1 always keep; ≤ 0
    * never do.
    */
  def weightedSample(df: DataFrame, probCol: String,
                     idCol: String = "doc_id",
                     salt: String = "ws"): DataFrame = {
    val bucket = conv(substring(
      md5(concat(lit(salt), lit(":"), col(idCol).cast("string"))), 1, 4),
      16, 10).cast("long")
    df.withColumn("sample_u", bucket.cast("double") / lit(65536.0))
      .withColumn("is_sampled", col("sample_u") < col(probCol))
  }

  /** Per-source CONTENT NOVELTY — the mixture-design signal
    * [[graft.ops.text.TextStats.sourceStats]]'s volume/quality/dup-rate
    * columns do not carry: how much of a source's n-gram inventory
    * exists NOWHERE else in the corpus. A mirror or aggregator site
    * shows near-zero novelty (its shingles all appear under other
    * sources) even when its exact-dup rate is low; a primary source
    * shows high novelty — exactly the signal that decides which sources
    * a mixture should upweight versus drop. Per source: the distinct
    * `n`-gram shingles observed in it, how many of those appear in NO
    * other source, and their ratio.
    *
    * Output: (source, n_shingles, n_unique_shingles, novelty); sources
    * whose docs are all shorter than `n` tokens have no shingles and no
    * row.
    *
    * Scale: two map-side-combinable aggregates + one shingle-keyed
    * shuffle_hash join — the df table is vocabulary-scale (bounded by
    * distinct shingles, not corpus size), never all-pairs; the ratio is
    * one long/long double division.
    */
  def sourceNovelty(documents: DataFrame, n: Int = 2): DataFrame = {
    val srcSh = documents
      .select(col("source"),
        explode(shingles(tokens(col("text")), n)).as("sh"))
      .distinct()
    val df = srcSh.groupBy("sh").agg(count(lit(1)).as("n_src"))
    srcSh.join(df.hint("shuffle_hash"), "sh")
      .groupBy("source")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("n_src") === 1, 1L).otherwise(0L))
          .as("n_unique_shingles"))
      .withColumn("novelty",
        col("n_unique_shingles").cast("double") / col("n_shingles"))
  }

  /** DSIR-style data-selection importance score (Xie et al., NeurIPS
    * 2023, arXiv:2302.03169 — "Data Selection for Language Models via
    * Importance Resampling", re-expressed relationally): rank RAW
    * documents by how much more likely their hashed n-gram features are
    * under a TARGET corpus's distribution than under the raw corpus's
    * own — the standard way to upweight target-domain-like web text
    * before pretraining. Features are hashed word BIGRAMS (the paper's
    * choice) in `dim` md5 buckets (the [[graft.ops.Classifier]] /
    * hashSplit engine-portable bucket family); both distributions are
    * add-α smoothed bucket frequencies; a document's score is its MEAN
    * per-feature log-ratio ln(p_target(b) / p_raw(b)) — positive means
    * target-like. Compose with [[weightedSample]] (map the score to a
    * probability) or [[quantileGate]] for the resampling step.
    *
    * Output: (doc_id, n_features, dsir_score) for EVERY raw doc —
    * docs with < 2 tokens have no bigrams and carry nulls.
    *
    * Cross-engine parity: counts and totals are exact longs, the ratio
    * is one shared IEEE expression tree, and `ln` follows the lmScore /
    * charEntropy precedent (libm last-ulp — oracle-facing queries
    * compare at the stable 6-decimal rounding).
    *
    * Scale posture (100 TB): unlike [[graft.ops.text.TextStats.lmScore]]'s
    * corpus-sized gram tables, BOTH histograms here are dim rows — the
    * log-ratio table broadcasts, scoring is one map pass over the raw
    * bigram stream + one combinable per-doc average. The target corpus
    * may itself be huge; only its dim-row histogram ever moves. No
    * windows, no all-pairs, nothing corpus-sized shuffles.
    */
  def dsirScore(raw: DataFrame, target: DataFrame, dim: Int = 64,
                alpha: Double = 0.4): DataFrame = {
    val rawF = dsirFeats(raw, dim)
    val scored = rawF
      .join(broadcast(dsirRatios(raw, target, dim, alpha)), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_features"),
        avg(col("logratio")).as("dsir_score"))
    raw.select("doc_id").join(scored, Seq("doc_id"), "left")
  }

  /** The hashed-bigram feature stream shared by the DSIR family. */
  private def dsirFeats(df: DataFrame, dim: Int): DataFrame = df
    .filter(col("text").isNotNull)
    .select(col("doc_id"),
      explode(shingles(tokens(col("text")), 2)).as("bg"))
    .withColumn("b", dsirBucket(col("bg"), dim))

  private def dsirBucket(bg: org.apache.spark.sql.Column, dim: Int) =
    (conv(substring(md5(bg), 1, 4), 16, 10).cast("int") % dim) + 1

  /** The DSIR log-ratio MODEL standalone: one row per bucket 1..dim —
    * TOTAL over the bucket space (buckets unseen in either corpus carry
    * the fully-smoothed ratio), so any future document scores under it.
    * This is the artifact a deployment persists (a dim-row Manifest
    * snapshot, the centroid/tokenizer-model pattern) and serves through
    * [[dsirScoreWith]]; [[dsirScore]] is exactly fit∘score in one call.
    * Totals fold from the dim-row histograms — no second corpus scan.
    */
  def dsirRatios(raw: DataFrame, target: DataFrame, dim: Int = 64,
                 alpha: Double = 0.4): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    val alphaD = alpha * dim
    val histR = dsirFeats(raw, dim).groupBy("b").agg(count(lit(1)).as("cr"))
    val histT = dsirFeats(target, dim).groupBy("b")
      .agg(count(lit(1)).as("ct"))
    val totR = histR.agg(coalesce(sum("cr"), lit(0L)).as("nr"))
    val totT = histT.agg(coalesce(sum("ct"), lit(0L)).as("nt"))
    raw.sparkSession.range(1, dim + 1)
      .select(col("id").cast("int").as("b"))
      .join(histR, Seq("b"), "left")
      .join(histT, Seq("b"), "left")
      .crossJoin(broadcast(totR)).crossJoin(broadcast(totT))
      .withColumn("logratio", log(
        ((coalesce(col("ct"), lit(0L)) + lit(alpha)) * (col("nr") + lit(alphaD))) /
          ((coalesce(col("cr"), lit(0L)) + lit(alpha)) * (col("nt") + lit(alphaD)))))
      .select("b", "logratio")
  }

  /** Score documents under a TRAINED DSIR model ([[dsirRatios]] output,
    * typically read back from its persisted snapshot): the dim-row model
    * inlines as a literal array and the document's mean log-ratio is an
    * ordered fold over its bigram stream — PURE MAP work, zero shuffle,
    * so the SAME call runs on a streaming Dataset (the ingest-time
    * domain filter; StreamingSpec proves stream ≡ batch). Emits every
    * input column plus (n_features, dsir_score); nulls for docs with no
    * bigrams, [[dsirScore]]'s contract. Values agree with the batch form
    * to floating-point summation order (the fold sums in document order,
    * the batch aggregate in join order) — CorpusSpec pins equality at
    * the oracle's own 6-decimal lens.
    */
  def dsirScoreWith(docs: DataFrame, ratios: DataFrame,
                    dim: Int = 64): DataFrame = {
    val arr = new Array[Double](dim + 1) // 1-based buckets
    ratios.select("b", "logratio").collect() // bounded: dim rows
      .foreach(r => arr(r.getInt(0)) = r.getDouble(1))
    val rlit = array(arr.toIndexedSeq.map(lit): _*)
    val bcol = transform(shingles(tokens(col("text")), 2),
      g => dsirBucket(g, dim))
    docs
      .withColumn("_bs", when(col("text").isNotNull, bcol))
      .withColumn("n_features",
        when(size(col("_bs")) > 0, size(col("_bs")).cast("int")))
      .withColumn("dsir_score",
        when(size(col("_bs")) > 0,
          // element_at is 1-based over the 0-padded literal: bucket b
          // (1..dim) lives at Scala index b, i.e. element b + 1
          aggregate(col("_bs"), lit(0.0),
            (acc, b) => acc + element_at(rlit, b + 1)) / size(col("_bs"))))
      .drop("_bs")
  }

  /** Leakage-safe train/val/test split: [[hashSplit]] keyed by the
    * near-dup CLUSTER rather than the document, so two near-duplicate
    * documents can never land in different splits — the eval-leakage
    * failure mode of naive per-doc splitting (a test doc's near-twin in
    * train inflates every benchmark number). Composes the dedup pipeline:
    * `pairs` is any near-dup pair table (MinHash, SimHash, Jaccard,
    * embedding — same contract as [[Dedup.resolveCanonical]]); each doc's
    * split key is its cluster canonical id (itself for singletons), and
    * the split decision is the same stable md5 bucket as [[hashSplit]] —
    * so the split is invariant to corpus growth EXCEPT when growth merges
    * clusters, which is exactly the invariant you want (a new near-dup of
    * a test doc must follow it into test).
    *
    * Scale: clustering cost is the pair table's (see
    * [[Dedup.clusterComponents]]); the split itself adds one doc_id-keyed
    * join and pure map work.
    */
  def groupSafeSplit(documents: DataFrame, pairs: DataFrame,
                     trainPct: Int = 80, valPct: Int = 10,
                     maxIter: Int = 25): DataFrame = {
    val canon = Dedup.resolveCanonical(documents, pairs, maxIter)
      .select(col("doc_id"), col("canonical_id"))
    hashSplit(documents.join(canon, Seq("doc_id")), idCol = "canonical_id",
      trainPct = trainPct, valPct = valPct)
  }

  /** Cross-split leakage audit — the measurement behind
    * [[groupSafeSplit]]: given a split assignment and a near-dup pair
    * table, count pairs per (split, split) combination. Rows with
    * `is_leak = true` are near-twins STRADDLING a split boundary — the
    * eval-contamination a naive [[hashSplit]] produces and a
    * group-keyed split must drive to zero (CorpusSpec pins exactly
    * that contrast). Run it before trusting any held-out metric on a
    * deduplicated-ish corpus; the audit-per-family contract (SURVEY
    * §8) applied to splits.
    *
    * Output: (split_a, split_b, n_pairs, is_leak), split_a ≤ split_b
    * so each unordered combination is one row.
    *
    * Scale posture: two id-keyed shuffle_hash joins of the pair table
    * against the (id, split) projection + one combinable count — pair-
    * table-sized, no windows; never broadcasts the corpus-sized split
    * relation.
    */
  def splitAudit(split: DataFrame, pairs: DataFrame,
                 idCol: String = "doc_id", aCol: String = "doc_a",
                 bCol: String = "doc_b"): DataFrame = {
    val s = split.select(col(idCol), col("split"))
    pairs
      .join(s.toDF(aCol, "split_l").hint("shuffle_hash"), aCol)
      .join(s.toDF(bCol, "split_r").hint("shuffle_hash"), bCol)
      .select(least(col("split_l"), col("split_r")).as("split_a"),
        greatest(col("split_l"), col("split_r")).as("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak", col("split_a") =!= col("split_b"))
  }

  /** Cross-SOURCE near-dup overlap matrix — which sources duplicate
    * which: the near-dup pair table counted per (source, source)
    * combination, normalized by the combination's possible-pair volume.
    * The mixture-design companion to [[sourceNovelty]]: novelty says a
    * mirror source's CONTENT exists elsewhere, this names WHERE — a
    * high cross `pair_rate` between an aggregator and a primary source
    * is the "drop the mirror, keep the primary" read, and a high
    * diagonal rate is a source that syndicates against itself
    * (boilerplate templates). The [[splitAudit]] counting shape keyed
    * by source instead of split.
    *
    * `pairs` is caller-provided ((doc_a, doc_b) grain —
    * [[graft.ops.text.Dedup.nearDupPairs]], the embedding family, or a
    * persisted resolution's pair table), so the matrix INHERITS the
    * index's scale posture. Two id-keyed shuffle_hash joins of the pair
    * table + one combinable count; source sizes are a |sources|-row
    * broadcast. `pair_rate` divides exact longs in DOUBLE space
    * (possible-pair volumes overflow long arithmetic at 100 TB doc
    * counts; the double tree is engine-identical).
    *
    * Output: (source_a, source_b ordered ≤, n_pairs, n_docs_a,
    * n_docs_b, pair_rate, is_cross).
    */
  def sourceOverlap(documents: DataFrame, pairs: DataFrame,
                    idCol: String = "doc_id", srcCol: String = "source",
                    aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val s = documents.select(col(idCol), col(srcCol))
    val sizes = documents.groupBy(col(srcCol).as("src"))
      .agg(count(lit(1)).as("n_docs"))
    val matrix = pairs
      .join(s.toDF(aCol, "src_l").hint("shuffle_hash"), aCol)
      .join(s.toDF(bCol, "src_r").hint("shuffle_hash"), bCol)
      .select(least(col("src_l"), col("src_r")).as("source_a"),
        greatest(col("src_l"), col("src_r")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
    val possible = when(col("source_a") === col("source_b"),
      col("n_docs_a").cast("double") * (col("n_docs_a") - 1) / 2)
      .otherwise(col("n_docs_a").cast("double") * col("n_docs_b"))
    matrix
      .join(broadcast(sizes.toDF("source_a", "n_docs_a")), "source_a")
      .join(broadcast(sizes.toDF("source_b", "n_docs_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        col("n_docs_a"), col("n_docs_b"),
        (col("n_pairs").cast("double") / possible).as("pair_rate"),
        (col("source_a") =!= col("source_b")).as("is_cross"))
  }

  /** Exact stratified sampling: exactly `min(n, |stratum|)` rows per
    * stratum, chosen by a stable pseudo-random order — the corpus-audit /
    * eval-set op where Bernoulli sampling (`sampleBy`, [[weightedSample]])
    * is the wrong tool because the output SIZE must be exact (a 500-doc
    * human-review batch per language, a fixed-size eval shard). The
    * per-stratum order is md5(salt:id) with an id tie-break — stable
    * under corpus growth ONLY in distribution (adding docs can displace
    * picks, necessarily: exact-n is rank-based); change `salt` for an
    * independent redraw. Emits `sample_rank` (1-based within stratum).
    *
    * Scale: delegates to [[graft.ops.Relational.topKPerGroup]], so the
    * rank compiles to WindowGroupLimit — each input partition keeps at
    * most n rows per stratum BEFORE the shuffle, and the exchange carries
    * O(strata × n × partitions) rows, not the corpus. Never a global
    * sort, never a per-stratum collect.
    */
  def stratifiedSample(df: DataFrame, strataCol: String, n: Int,
                       idCol: String = "doc_id", salt: String = "ss"): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    require(!df.columns.contains("_u"), "input already has a _u column")
    graft.ops.Relational.topKPerGroup(
      df.withColumn("_u",
        md5(concat(lit(salt), lit(":"), col(idCol).cast("string")))),
      Seq(strataCol), Seq(col("_u").asc, col(idCol).asc), n)
      .withColumnRenamed("rank", "sample_rank")
      .drop("_u")
  }

  /** Per-stratum quantile gate — "keep the top (1−p) of each language by
    * quality score": each row is flagged against the p-th quantile of
    * `valueCol` WITHIN its stratum, the relative quality cut curation
    * runs use when an absolute threshold would starve low-resource
    * languages. Emits every row with its stratum threshold and keep flag
    * (filter on `is_kept` for the gated corpus).
    *
    * The threshold is the discrete quantile (an actual element of the
    * group — `approx_percentile` at rank ⌈p·n⌉), NOT an interpolated
    * midpoint: a discrete threshold compares bit-exactly cross-engine
    * for any value distribution, and at 100 TB group sizes beyond
    * `accuracy` the same expression degrades gracefully into the
    * t-digest sketch (mergeable, map-side) instead of buffering the
    * group — the corpusStatsApprox trade, same documented exact regime
    * (n ≤ accuracy ⇒ equals DuckDB quantile_disc).
    *
    * Shape: one map-side-combinable aggregate to |strata| threshold rows,
    * broadcast back over the scan — never a per-stratum window over the
    * corpus (a window partitioned by language would funnel whole
    * languages through single executors).
    */
  def quantileGate(df: DataFrame, valueCol: String, strataCol: String,
                   p: Double = 0.5, accuracy: Int = 10000): DataFrame = {
    require(p > 0 && p < 1, s"p must be in (0,1), got $p")
    quantileGateWith(df,
      quantileThresholds(df, valueCol, strataCol, p, accuracy),
      valueCol, strataCol)
  }

  /** [[quantileGate]]'s fit side standalone: the |strata|-row threshold
    * table — persist it (Manifest snapshot, the lmModel/dsirRatios
    * move) and gate every future ingest batch against the SAME
    * reference distribution via [[quantileGateWith]]. Recomputing
    * thresholds per batch would let a low-quality batch lower its own
    * bar — the gate-as-artifact split is what makes the rule stable
    * (and, being a broadcast join + one compare, stream-safe).
    */
  def quantileThresholds(df: DataFrame, valueCol: String, strataCol: String,
                         p: Double = 0.5,
                         accuracy: Int = 10000): DataFrame =
    df.groupBy(col(strataCol))
      .agg(expr(s"approx_percentile($valueCol, $p, $accuracy)")
        .as("threshold"))

  /** Serve side: gate against a provided threshold table. Rows whose
    * stratum is absent from the table are DROPPED by the inner join —
    * an unknown stratum has no calibrated bar, and silently passing it
    * would defeat the gate; refresh the artifact to admit new strata.
    */
  def quantileGateWith(df: DataFrame, thresholds: DataFrame,
                       valueCol: String, strataCol: String): DataFrame =
    df.join(broadcast(thresholds), Seq(strataCol))
      .withColumn("is_kept", col(valueCol) >= col("threshold"))

  /** Per-stratum quantile BUCKETING — CCNet's head/middle/tail move
    * generalized: split each stratum's score distribution at the given
    * percentiles and label every row with its bucket index (0 = lowest
    * band). CCNet buckets web text into perplexity terciles per
    * language and trains on the head; the same table drives
    * bucket-proportional mixture design ([[mixtureResample]]) instead
    * of a single keep/drop bar ([[quantileGate]] is the 2-bucket
    * special case of this).
    *
    * Thresholds are DISCRETE per-stratum quantiles (actual data values,
    * the equi-depth convention); bucket = number of thresholds strictly
    * below the row's value, so a row sitting exactly ON a boundary
    * joins the lower bucket in any engine. Output: input columns +
    * (bucket). Rows with a NULL score keep a NULL bucket.
    *
    * Scale posture: one combinable per-stratum aggregate (|strata| rows
    * — always broadcast back), then a literal-fold compare per row: no
    * second shuffle, stream-safe on the serve side exactly like
    * [[quantileGateWith]].
    */
  def scoreBuckets(df: DataFrame, valueCol: String, strataCol: String,
                   pcts: Seq[Double] = Seq(1.0 / 3, 2.0 / 3),
                   accuracy: Int = 10000): DataFrame =
    scoreBucketsWith(df,
      scoreBucketThresholds(df, valueCol, strataCol, pcts, accuracy),
      valueCol, strataCol)

  /** [[scoreBuckets]]'s fit side standalone — the |strata|-row
    * boundary table (strata, ths array<double>), persistable like
    * [[quantileThresholds]] so every ingest batch buckets against the
    * SAME reference distribution (CCNet trains its buckets on the
    * reference corpus once, then routes every crawl snapshot).
    */
  def scoreBucketThresholds(df: DataFrame, valueCol: String,
                            strataCol: String,
                            pcts: Seq[Double] = Seq(1.0 / 3, 2.0 / 3),
                            accuracy: Int = 10000): DataFrame = {
    require(pcts.nonEmpty && pcts == pcts.sorted &&
      pcts.forall(p => p > 0 && p < 1),
      s"pcts must be sorted and in (0,1), got $pcts")
    val pctArr = pcts.mkString("array(", ", ", ")")
    df.groupBy(col(strataCol))
      .agg(expr(s"approx_percentile($valueCol, $pctArr, $accuracy)")
        .as("__ths"))
  }

  /** Serve side: bucket against a provided boundary table. Unknown
    * strata DROP (no calibrated boundaries — the [[quantileGateWith]]
    * contract); broadcast join + one literal fold, stream-safe.
    */
  def scoreBucketsWith(df: DataFrame, thresholds: DataFrame,
                       valueCol: String, strataCol: String): DataFrame =
    df.join(broadcast(thresholds), Seq(strataCol))
      .withColumn("bucket",
        when(col(valueCol).isNotNull,
          size(filter(col("__ths"), t => col(valueCol) > t))))
      .drop("__ths")

  /** Corpus-WIDE exact line dedup, keep-first — C4's global dedup step
    * (it removes repeated three-sentence spans corpus-wide; the unit
    * here is the line): every occurrence of a line AFTER its first
    * (ordered by (doc_id, position)) is dropped, the first survives in
    * place. The within-document complement of [[cleanLines]] (rules) and
    * the exact-match sibling of [[graft.ops.text.Spans.despan]] (which
    * removes cross-doc token spans from ALL docs, including the first).
    *
    * Output: (doc_id, n_lines, n_kept, text_dedup) — surviving lines
    * re-joined on `delim` in original order, empty string when every
    * line was a later duplicate.
    *
    * Scale posture: one line-keyed shuffle (the grouped `min` is
    * map-side combinable), one keyed join back (1-row build per line
    * key), one doc_id-keyed reassembly — never a window PARTITIONED BY
    * line content, which would funnel a viral boilerplate line's
    * millions of occurrences through one executor task. A hot line key
    * still fans its probe rows out across tasks under AQE; the build
    * side is 1 row per key by construction.
    */
  def dedupLines(documents: DataFrame, delim: String = "\n"): DataFrame = {
    val q = java.util.regex.Pattern.quote(delim)
    val lines = documents
      .select(col("doc_id"), posexplode(split(col("text"), q))
        .as(Seq("pos", "line")))
    val firsts = lines.groupBy("line")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    val kept = lines
      .join(firsts.hint("shuffle_hash"), "line")
      .filter(struct(col("doc_id"), col("pos")) === col("first"))
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).cast("int").as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")),
        delim).as("text_dedup"))
    documents
      .withColumn("n_lines", size(split(col("text"), q)))
      .select("doc_id", "n_lines")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Heavy-hitter line census — the boilerplate DETECTOR for the line
    * family: the k most-repeated lines with occurrence and document
    * counts. This is where a cleanLines blacklist and the "is
    * keep-first dedup worth a pass" decision come from — web corpora
    * concentrate their duplication in a tiny set of nav/footer/cookie
    * lines, and reading this table first turns the rule list from a
    * guess into a measurement (minhashBandAudit's role, at line grain).
    *
    * Output: (line, n_occurrences, n_docs, first_doc_id), top-k by
    * occurrences (ties to line text). One exploded count aggregate
    * (map-side combinable; the distinct doc count is the standard
    * two-phase expansion) + TakeOrderedAndProject — never a global
    * sort.
    */
  def lineStats(documents: DataFrame, k: Int = 20,
                delim: String = "\n"): DataFrame = {
    val q = java.util.regex.Pattern.quote(delim)
    documents
      .select(col("doc_id"), explode(split(col("text"), q)).as("line"))
      .groupBy("line").agg(
        count(lit(1)).as("n_occurrences"),
        count_distinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc_id"))
      .orderBy(desc("n_occurrences"), asc("line"))
      .limit(k)
  }

  /** Per-stratum PERCENTILE-RANK normalization — the move that makes
    * heterogeneous quality signals blendable (an LM logprob, a
    * classifier score, and a rule count live on incomparable scales;
    * their percentile ranks all live on [0,1] and average/min/weight
    * cleanly — rank-based score fusion). `pct_rank` = (# rows in the
    * stratum strictly below this value) / (n − 1) — RANK-based, so
    * ties share the value of their class's first row, 0.0 for a
    * 1-row stratum; an exact long/long division (bit-portable). Rows
    * with a NULL value drop (no rank without a value — the equi-join
    * back never matches null).
    *
    * Scale posture: deliberately NEVER a document-grain window (a
    * PARTITION BY stratum ORDER BY score window sorts whole strata
    * through single task chains) — one (stratum, value) combinable
    * count, the cumulative window over the CLASS relation (distinct
    * values per stratum), and one keyed join back to the rows. The
    * [[tokenBudgetThresholds]] class-relation pattern, emitted per
    * row.
    */
  def scoreRank(df: DataFrame, valueCol: String,
                strataCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy(col(valueCol))
    val all = org.apache.spark.sql.expressions.Window.partitionBy(strataCol)
    val cls = df.groupBy(col(strataCol), col(valueCol))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__below", sum(col("__c")).over(w) - col("__c"))
      .withColumn("__n", sum(col("__c")).over(all))
      .withColumn("pct_rank",
        when(col("__n") > 1,
          col("__below").cast("double") / (col("__n") - 1))
          .otherwise(lit(0.0)))
      .select(col(strataCol), col(valueCol), col("pct_rank"))
    df.join(cls.hint("shuffle_hash"), Seq(strataCol, valueCol))
  }

  /** Weighted RANK-FUSION of heterogeneous quality signals — the
    * [[scoreRank]] consumer: each signal column is percentile-ranked
    * within its stratum (so an LM logprob, a classifier score, and a
    * rule count all land on [0,1]) and the ranks blend under caller
    * weights into ONE `fused_score` a quantile gate / token budget can
    * consume. A row missing a signal (NULL) keeps its other signals and
    * renormalizes over the PRESENT weights — a doc without an LM score
    * is still rankable by its classifier, and a signal's absence never
    * reads as "worst".
    *
    * Scale posture: all signals STACK into one (stratum, signal, value)
    * relation and share ONE class-grain ranking chain (the scoreRank
    * shape with `signal` joining the partition key — never a
    * document-grain window, never one chain per signal), then one
    * combinable pivot-back aggregate per (id, stratum) and a
    * literal-fold blend in fixed signal order — the numerator/
    * denominator trees are engine-identical, so fusion is
    * oracle-comparable without rounding.
    *
    * Output: (idCol, strataCol, rank_<signal>..., fused_score).
    */
  def scoreFuse(df: DataFrame, signals: Seq[(String, Double)],
                strataCol: String, idCol: String = "doc_id"): DataFrame = {
    require(signals.nonEmpty, "at least one signal column required")
    require(signals.forall(_._2 > 0), s"weights must be positive: $signals")
    require(!df.columns.contains("signal") && !df.columns.contains("value"),
      "input already has a signal/value column")
    val stacked = df.select(col(idCol), col(strataCol),
      explode(map(signals.flatMap { case (c, _) =>
        Seq(lit(c), col(c).cast("double")) }: _*)).as(Seq("signal", "value")))
      .filter(col("value").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol), col("signal")).orderBy(col("value"))
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol), col("signal"))
    val cls = stacked.groupBy(col(strataCol), col("signal"), col("value"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__below", sum(col("__c")).over(w) - col("__c"))
      .withColumn("__n", sum(col("__c")).over(all))
      .withColumn("pct_rank",
        when(col("__n") > 1,
          col("__below").cast("double") / (col("__n") - 1))
          .otherwise(lit(0.0)))
      .select(col(strataCol), col("signal"), col("value"), col("pct_rank"))
    val ranked = stacked
      .join(cls.hint("shuffle_hash"), Seq(strataCol, "signal", "value"))
    val pivoted = ranked.groupBy(col(idCol), col(strataCol))
      .agg(max(when(col("signal") === signals.head._1, col("pct_rank")))
        .as(s"rank_${signals.head._1}"),
        signals.tail.map { case (c, _) =>
          max(when(col("signal") === c, col("pct_rank"))).as(s"rank_$c")
        }: _*)
    val num = signals.map { case (c, wt) =>
      coalesce(lit(wt) * col(s"rank_$c"), lit(0.0))
    }.reduce(_ + _)
    val den = signals.map { case (c, wt) =>
      when(col(s"rank_$c").isNotNull, lit(wt)).otherwise(lit(0.0))
    }.reduce(_ + _)
    pivoted.withColumn("fused_score",
      when(den > 0, num / den).otherwise(lit(null).cast("double")))
  }

  /** Fit side of the token-budget selection: per stratum, the score
    * cutoff that fills a TOKEN budget from the top of the score
    * distribution — the "data-constrained" curation move (a 100 TB
    * corpus rarely ships whole; the question is which B tokens per
    * language/source survive). Keeps whole score-classes: order each
    * stratum's DISTINCT scores descending and take classes while their
    * cumulative token mass fits the budget; `threshold` is the last
    * (smallest) admitted score — an actual data value, the
    * quantileThresholds convention — with `kept_tokens` its cumulative
    * mass. A stratum whose TOP class alone overflows is ABSENT from
    * the output (nothing fits; the caller splits that class by its own
    * tie rule or raises the budget), and its rows serve as
    * is_kept = false.
    *
    * Output: (strataCol, threshold, kept_tokens) — persist via Manifest
    * and serve any batch through [[tokenBudgetSelectWith]], exactly the
    * quantile-gate fit/serve economics.
    *
    * Scale posture: one (stratum, score) map-side-combinable token sum
    * — the window then runs over the score-CLASS relation (distinct
    * scores per stratum, orders of magnitude below doc count for any
    * real scorer), never over documents; the result is |strata| rows.
    */
  def tokenBudgetThresholds(df: DataFrame, scoreCol: String,
                            tokenCol: String, strataCol: String,
                            budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy(col(scoreCol).desc)
    df.groupBy(col(strataCol), col(scoreCol))
      .agg(sum(col(tokenCol)).as("__tok"))
      .withColumn("__cum", sum(col("__tok")).over(w))
      .filter(col("__cum") <= budget)
      .groupBy(col(strataCol))
      .agg(min(col(scoreCol)).as("threshold"),
        max(col("__cum")).as("kept_tokens"))
  }

  /** Serve side: flag each row against a persisted budget-threshold
    * table — `is_kept` = score at or above the stratum's cutoff. Rows
    * of strata ABSENT from the table keep is_kept = false (their
    * stratum had no admissible class — or no calibrated budget — and
    * silently passing would bust it); the LEFT join keeps the rows
    * visible, unlike [[quantileGateWith]]'s drop, because budget
    * accounting wants to SEE what it excluded. Broadcast join + one
    * compare: stream-safe, zero shuffles.
    */
  def tokenBudgetSelectWith(df: DataFrame, thresholds: DataFrame,
                            scoreCol: String,
                            strataCol: String): DataFrame =
    df.join(broadcast(thresholds), Seq(strataCol), "left")
      .withColumn("is_kept",
        coalesce(col(scoreCol) >= col("threshold"), lit(false)))

  /** [[tokenBudgetThresholds]] ∘ [[tokenBudgetSelectWith]] inline — fit
    * and apply on the same relation (the quantileGate composition).
    */
  def tokenBudgetSelect(df: DataFrame, scoreCol: String, tokenCol: String,
                        strataCol: String, budget: Long): DataFrame =
    tokenBudgetSelectWith(df,
      tokenBudgetThresholds(df, scoreCol, tokenCol, strataCol, budget),
      scoreCol, strataCol)

  /** WITHIN-document duplicate-line fractions — Gopher's repetition
    * rules at line grain ("fraction of lines / characters in duplicated
    * lines"; the n-gram twin is [[repetitionStats]]): a page whose own
    * nav menu, share bar, or pagination footer repeats inside it scores
    * high here and is dropped by rule, BEFORE any corpus-wide pass —
    * this is a per-document signal, where [[dedupLines]] /
    * [[lineStats]] are corpus-wide.
    *
    * Per document: a line occurring c times contributes c−1 duplicate
    * occurrences. `dup_line_frac` = Σ(c−1) / n_lines;
    * `dup_char_frac` = Σ len·(c−1) / Σ len·c (character-weighted, the
    * Gopher "characters in duplicate lines" form). Both are single
    * long/long double divisions, NULL on a zero denominator (the char
    * denominator of an all-empty-lines doc).
    *
    * Scale posture: one (doc_id, line)-keyed combinable count, one
    * doc_id-keyed combinable rollup — two map-side-combining shuffles
    * of line-grain rows, no windows; a corpus-wide viral line never
    * concentrates anywhere because every key includes doc_id.
    */
  def lineRepetition(documents: DataFrame,
                     delim: String = "\n"): DataFrame = {
    val q = java.util.regex.Pattern.quote(delim)
    documents
      .select(col("doc_id"), explode(split(col("text"), q)).as("line"))
      .groupBy("doc_id", "line")
      .agg(count(lit(1)).as("c"))
      .withColumn("len", length(col("line")))
      .groupBy("doc_id").agg(
        sum(col("c")).cast("int").as("n_lines"),
        count(lit(1)).cast("int").as("n_distinct_lines"),
        (sum(col("c") - 1).cast("double") / sum(col("c")))
          .as("dup_line_frac"),
        when(sum(col("len") * col("c")) > 0,
          sum(col("len") * (col("c") - 1)).cast("double") /
            sum(col("len") * col("c"))).as("dup_char_frac"))
  }

  /** The persisted first-seen line registry [[dedupLinesAgainst]] probes
    * — one row per DISTINCT line already accepted into the corpus,
    * keyed by full md5 (128 bits: at 100 TB line counts a 60-bit key's
    * birthday collisions are no longer negligible; 32 hex chars are).
    * Combinable distinct over exploded lines; the ingestion job unions
    * each batch's NEW lines back into this artifact (the Manifest
    * snapshot shape, as with the dedup resolution table).
    */
  def lineRegistry(documents: DataFrame, delim: String = "\n"): DataFrame = {
    val q = java.util.regex.Pattern.quote(delim)
    documents
      .select(explode(split(col("text"), q)).as("line"))
      .select(md5(col("line")).as("line_hash"))
      .distinct()
  }

  /** Bootstrap-and-commit [[lineRegistry]] as a versioned Manifest
    * snapshot — returns the committed version.
    */
  def lineRegistryRefresh(documents: DataFrame, table: String,
                          delim: String = "\n"): Int =
    graft.io.Manifest.write(lineRegistry(documents, delim), table)

  /** The registry MAINTENANCE step the [[dedupLinesAgainst]] scaladoc
    * promises: union an ACCEPTED batch's distinct line hashes into the
    * current snapshot and commit the result as the next version —
    * read-modify-commit under the Manifest's single-maintenance-writer
    * contract, so in-flight readers of the previous version are
    * undisturbed and the ingest loop alternates probe(vN) → accept →
    * update(vN+1). Returns the new version.
    *
    * Scale posture: one distinct over (registry ∪ batch hashes) — the
    * registry is corpus-sized, but this is the ingest loop's ONE
    * registry-wide pass, replacing the corpus-wide re-scan a
    * registryless design pays per batch.
    */
  def lineRegistryUpdate(table: String, accepted: DataFrame,
                         delim: String = "\n"): Int = {
    val spark = accepted.sparkSession
    graft.io.Manifest.write(
      graft.io.Manifest.read(spark, table)
        .unionByName(lineRegistry(accepted, delim))
        .distinct(),
      table)
  }

  /** Incremental [[dedupLines]]: flag each INCOMING document's lines
    * against the persisted [[lineRegistry]] — the recurring-ingestion
    * form (the nearDupAgainst shape for lines). Emits one row per
    * incoming line, `known` = true when the registry already holds it;
    * the caller drops known lines and reassembles (or feeds a
    * registry-update with the fresh hashes). Deliberately does NOT
    * dedup within the batch — that is the batch operator's job on the
    * accepted corpus; keeping this a pure map + stream-static keyed
    * join means ZERO stateful operators, so the SAME call runs under
    * Structured Streaming in append mode (stream ≡ batch, spec-pinned).
    *
    * Scale posture: explode + md5 map work, one line_hash-keyed left
    * join against the registry (shuffle-hash at registry scale — the
    * registry of a 100 TB corpus is itself corpus-sized, so never
    * broadcast), no window, no aggregation.
    */
  def dedupLinesAgainst(incoming: DataFrame, registry: DataFrame,
                        delim: String = "\n"): DataFrame = {
    val q = java.util.regex.Pattern.quote(delim)
    incoming
      .select(col("doc_id"), posexplode(split(col("text"), q))
        .as(Seq("pos", "line")))
      .withColumn("line_hash", md5(col("line")))
      .join(registry.withColumn("known", lit(true)).hint("shuffle_hash"),
        Seq("line_hash"), "left")
      .select(col("doc_id"), col("pos"), col("line"),
        coalesce(col("known"), lit(false)).as("known"))
  }

  /** C4-style LINE-level cleaning: drop individual lines that fail the
    * rule set, keep the rest of the document — the within-document
    * counterpart of [[filterCorpus]]'s whole-document gate (C4 drops
    * lines under 3 words or containing blacklist terms before any
    * document-level filter runs; most web boilerplate — nav menus,
    * cookie banners, button labels — dies here, not at the doc level).
    *
    * Rules (a line survives only if ALL hold):
    *   - at least `minTokens` whitespace tokens (split on a `\s+` run —
    *     tabs and multi-space gaps are one separator, and the empty
    *     fragment a leading separator leaves behind is dropped, so it
    *     can neither satisfy minTokens nor dodge the blacklist);
    *   - none of its tokens appear in `banned` (exact token match — the
    *     C4 "bad word / boilerplate phrase" list shape).
    *
    * Output: input columns plus (n_lines, n_kept, text_clean) with
    * text_clean the surviving lines re-joined on `delim` in original
    * order — empty string when nothing survives, so a downstream
    * [[filterCorpus]] can drop the husk by its own length rule.
    *
    * Scale posture: pure per-document map work — codegen'd split/filter/
    * array_join HOFs, no UDFs, no shuffle, linear in corpus bytes. The
    * line array is staged as its own projection (the [[graft.ops.text]]
    * shingle-pipeline pattern) so the text splits once, not once per
    * consuming expression.
    */
  def cleanLines(documents: DataFrame, minTokens: Int = 3,
                 banned: Seq[String] = Seq.empty,
                 delim: String = "\n"): DataFrame = {
    val q = java.util.regex.Pattern.quote(delim)
    val toks = (l: org.apache.spark.sql.Column) =>
      filter(split(l, "\\s+"), t => t =!= "")
    val keepLine = (l: org.apache.spark.sql.Column) =>
      size(toks(l)) >= minTokens &&
        !arrays_overlap(toks(l), typedLit(banned))
    documents
      .withColumn("__lines", split(col("text"), q))
      .withColumn("__kept", filter(col("__lines"), keepLine))
      .withColumn("n_lines", size(col("__lines")))
      .withColumn("n_kept", size(col("__kept")))
      .withColumn("text_clean", array_join(col("__kept"), delim))
      .drop("__lines", "__kept")
  }
}
