package graft

import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Builder-run sf1 scale sweep of the heavy operator families (SURVEY
  * §5.5 item 5): dedup, connected components, fuzzy join, ANN.
  *
  * The driver mounts fixtures only up to sf0.1 (documents 5k / embeddings
  * 2k), and each round's sf0.1 sweep has already caught one regime
  * crossing (q_mad_outliers); the next boundaries hide above it. This
  * main synthesizes a 10× documents/embeddings pair (50k docs / 20k
  * vectors — sf1-equivalent for the two tables the heavy families read)
  * with the SAME shape as the driver fixture — its actual ~30-word
  * vocabulary (read from the sf0.1 parquet, never regenerated), its
  * length and language mix, planted exact/near duplicates, a long
  * near-dup CHAIN (adversarial CC depth), and planted high-cosine vector
  * pairs — then runs every heavy query RUN-clean and prints wall time +
  * output rows. Findings land in SURVEY §5.5's sweep table.
  *
  * Synthetic-by-us is deliberate here: TESTDATA.md forbids regenerating
  * driver fixtures, and unioning N copies of sf0.1 would give every doc
  * N exact twins — a dedup workload nothing like real growth. Seeded
  * generation scales the corpus while keeping dup DENSITY realistic.
  *
  * Usage: `runMain graft.ScaleSweep [outDir] [query,query,...]`
  * (default /tmp/graft_sf1, all heavy queries).
  */
object ScaleSweep {

  /** Heavy families in dependency-free order: dedup → CC consumers →
    * fuzzy → ANN. q_knn_label is the documented O(n²) exactness baseline
    * — swept to record the quadratic wall, not to endorse it at scale.
    */
  val heavyQueries: Seq[String] = Seq(
    "q_dedup_exact", "q_dedup_minhash", "q_minhash_auto",
    "q_dedup_simhash",
    "q_dedup_incremental",
    // the registry-served probe right after its inline twin: the pair
    // quantifies what the persisted signature table saves per batch
    "q_minhash_served",
    "q_dedup_clusters", "q_dedup_resolve",
    "q_dedup_best",
    "q_group_split", "q_decontaminate", "q_decontaminate_spans",
    "q_lm_score", "q_lm_serve", "q_lm_lines", "q_dsir_score",
    "q_cooccur", "q_bpe_train", "q_bpe_segment", "q_bpe_encode",
    "q_quality_model", "q_quality_predict",
    "q_jaccard_ngram", "q_edit_pairs", "q_edit_seg", "q_edit_auto",
    // r13: the asymmetric Ed-Join pair — inline (corpus grammed and
    // df-ordered per run) vs served (the persisted hash-ordered
    // ed-index; only the batch grams) — the per-batch saving row
    "q_edit_incr", "q_edit_served",
    // r13: the SEGMENT asym regime + its registry serve + auto dispatch
    // — the remediation for the 132/189 s gram-asym rows above (segment
    // keys keep selectivity on this fixture-vocab corpus; the registry
    // is per-string, so no hash-order compromise)
    "q_edit_incr_seg", "q_edit_served_seg", "q_edit_incr_auto",
    // r13: sorted-neighborhood — O(n·w·passes) by construction, the
    // gram-skew-immune regime; its certificate runs on the FIXED slice
    "q_snm_pairs", "q_snm_recall", "q_snm_sweep",
    "q_quantize", "q_embedding_stats", "q_similarity_topk",
    "q_ann_lsh", "q_ann_multiprobe", "q_ann_ivf", "q_ann_quantized",
    "q_ann_ivf_trained", "q_ann_sweep", "q_ivf_sweep", "q_kmeans_sweep",
    "q_embed_neardup", "q_embed_audit", "q_embed_auto",
    // the asymmetric pair: inline (signs the corpus per run) vs served
    // (the persisted band registry — only the batch hashes)
    "q_embed_incr", "q_embed_served",
    "q_knn_label",
    // r12 line family: corpus-wide keep-first (one line-keyed shuffle),
    // the map-only rule cleaner, and the registry-join incremental twin;
    // q_minhash_recall/q_minhash_sweep run on a FIXED 400-doc slice, so
    // their rows certify flatness in corpus size, not growth;
    // q_calibration trains its own contains-'dup' GD model at sweep scale
    "q_dedup_lines", "q_clean_lines", "q_dedup_lines_incr",
    "q_minhash_recall", "q_minhash_sweep", "q_calibration",
    // r13: the Hamming-family certificates, same FIXED-slice contract
    // (rows certify flatness in corpus size, not growth)
    "q_simhash_recall", "q_simhash_sweep",
    // r13: the SimHash asym pair — inline (corpus fingerprinted per run)
    // vs served (the committed (doc_id, fp) registry; ZERO corpus text)
    "q_simhash_incr", "q_simhash_served",
    "q_hard_negatives",
    // r12 session 2: the per-doc line-repetition signal, the budget/
    // bucket selection pair over the quality scorer, and inline-vs-
    // served BM25 (the index artifact's per-query saving)
    "q_line_repetition", "q_score_buckets", "q_token_budget",
    "q_score_rank", "q_split_audit",
    "q_bm25", "q_bm25_served",
    // q_contrastive's positives ride the brute self-search — at 20k
    // vectors that is the documented quadratic baseline (q_knn_label's
    // role): swept to record the wall the ANN-table drop-in avoids —
    // and q_contrastive_ann IS that drop-in (bucket search positives)
    "q_contrastive", "q_contrastive_ann",
    // r12 session 3: cross-source overlap + KN LM + rank fusion +
    // top-n-gram (linear families), RM3 (two BM25 passes + selection),
    // the containment family (prefix-filtered but with an unpruned
    // container side — the row to watch), and the drift monitor
    // (retrains its cell geometry in-query, the ivf_trained cost class)
    "q_source_overlap", "q_kn_score", "q_score_fuse", "q_ngram_top",
    "q_bm25_rm3", "q_containment", "q_contain_resolve", "q_embed_drift",
    // served-RM3 and line-grain KN (the linear retrieval/LM additions)
    "q_rm3_served", "q_kn_lines",
    // hybrid-retrieval fusion (eval-sized) and the ingest excerpt check
    // (the asymmetric containment economics at scale); the served twin
    // right after it quantifies the persisted containment index's
    // per-batch saving, and the recall certificate runs on the FIXED
    // slice (flat in corpus size, like q_minhash_recall)
    "q_rrf", "q_contain_incr", "q_contain_served", "q_contain_recall",
    // r13 s3: the maxDf grid (fixed slice — flat in corpus size)
    "q_contain_sweep",
    // r13 s3: the exact-Jaccard ingest form (both-sides-pruned PPJoin
    // at half-corpus batch volume — expect well under q_jaccard_ngram);
    // r15: its registry-served twin (single-side prefix against the
    // persisted containment index — the per-batch corpus-tokenization
    // saving row at the jaccard family)
    "q_jaccard_incr", "q_jaccard_served",
    // r15: trigram KN — one order up from q_kn_score (two extra count
    // relations, five serve joins; still one pass + combinable aggs)
    "q_kn3_score",
    // r16: the 5-gram order — same cost class claimed as kn/kn3 (count
    // joins + one scalar broadcast, all combinable/keyed); the sweep
    // row is the evidence the four-tier chain stays linear at 20× docs
    "q_kn5_score",
    // r12 session 4 graph family: the authority rounds (3 Pregel-shaped
    // iterations over the co-purchase graph; edge build dominates), the
    // seeded twin (same joins, gated teleport), and the triangle census
    // (the wedge join is the row to watch — O(√m) fan-out bound);
    // r13: the convergence post-flight (rounds + one aggregate each),
    // the whale-cap audit (one grouped count), and textRank (vocab-graph
    // rounds + TakeOrderedAndProject top-k)
    "q_linkrank", "q_linkrank_seeded", "q_linkrank_residual",
    "q_triangles", "q_graph_audit", "q_copurchase_cap", "q_textrank",
    // r13 session 2 graph additions on the same power-law graph: BFS
    // frontier rounds (each edge relaxed once across the run), LPA's
    // per-round edge⋈label join + argmax (the hub's label pull is the
    // row to watch), and 6 peeling rounds (degree census + 2 semi
    // joins each)
    "q_hops", "q_communities", "q_kcore",
    // r15: weighted min-plus rounds — unlike unit BFS, reached nodes
    // can RE-IMPROVE, so state re-checkpoints per round; the sweep row
    // prices that honest extra write volume on the power-law graph
    "q_hops_weighted",
    // r13 s3: the LPA residual ladder + convergence-gated twin (the
    // changed-count rides each round's own materializing action)
    "q_communities_residual", "q_communities_conv",
    // r14: semi-sync LPA (18 rounds x 4 per-color sub-steps — the
    // deepest iterative instrument in the registry; each round moves
    // ONE sync round's join volume off the src-partitioned pinned edge
    // table, so the sweep row prices sub-step latency at 10x the bench
    // graph) and the modularity instrument (two labelings scored off
    // one pinned symmetrized table — two joins + two aggregates each)
    "q_communities_semisync", "q_modularity", "q_communities_gated",
    // the composed DAGs last: every ingredient family is attributed
    // above, so these rows measure COMPOSITION cost (producer =
    // in-DAG pair build; consumer = persisted-resolution read;
    // curation_batch = the INGEST DAG against in-sweep artifacts)
    "q_curation_report", "q_curation_classified", "q_curation_budget",
    "q_curation_batch")

  /** Custom measurement legs that are not SparkEntry query names — part
    * of the DEFAULT roster since r17 (previously an unlisted custom leg
    * silently ran nothing unless named explicitly, the trap the r16
    * sweep notes warn about).
    */
  val customLegs: Seq[String] = Seq("bpe_encode_sweep", "curation_sweep",
    "image_dedup_sweep", "distance_registry_sweep", "embed_ingest_sweep")

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_sf1")
    val wanted = args.lift(1).map(_.split(",").toSet)
      .getOrElse(heavyQueries.toSet ++ customLegs)
    val spark = Session.build()
    spark.sparkContext.setLogLevel("WARN")
    graft.squelchIntendedUnpersistWarn()

    generate(spark, outDir, nDocs = 50000, nVecs = 20000, seed = 1042L)

    // Same steady-state discipline as Bench: warm the dedup/fuzzy codegen
    // shapes once so the first family query's number is its own.
    locally {
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      val warm = (0L until 10L)
        .map(i => (i, s"warm fixture doc $i alpha beta gamma delta " * 3,
          "en", "warm", 120L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      ops.text.Dedup.resolveCanonical(warm, ops.text.Dedup.nearDupPairs(warm)).count()
      ops.text.Fuzzy.editDistanceJoin(
        warm.select(col("doc_id"), col("text").substr(1, 20).as("s")),
        "doc_id", "s", maxDist = 2, q = 3).count()
      spark.catalog.clearCache()
    }

    // DELIBERATELY no warmIntermediates here (unlike Bench): the sweep's
    // published table attributes each shared pair build to its first
    // consumer in sweep order — "the way the production pipeline would
    // pay it" (SURVEY §5.5 narrates exactly this attribution). Bench
    // instead isolates steady-state per-query cost, so it warms.
    var failures = 0
    val total0 = System.nanoTime()
    for (name <- heavyQueries if wanted(name)) {
      val t0 = System.nanoTime()
      try {
        val rows = SparkEntry.queries(name)(spark, outDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[sweep] $name%-20s ${sec}%8.2f s  rows=$rows")
      } catch {
        case e: Exception =>
          failures += 1
          println(s"[sweep] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    // Flat-in-merge-count evidence for the compiled encoder (SURVEY §5.5
    // BPE row): train ONE deep merge table on the sf1 corpus, then time
    // Bpe.encode under growing rank prefixes against Bpe.segment's fold
    // chain at the same depths. The fold chain's cost is O(merges ·
    // tokens); the automaton's is O(occurring merges) per distinct word —
    // near-constant in table depth.
    if (wanted("bpe_encode_sweep")) try {
      val docs = io.Sources.table(spark, outDir, "documents")
      val all = ops.text.Bpe.bpeTrain(docs, numMerges = 96)
        .orderBy("merge_rank")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      println(s"[sweep] bpe_encode_sweep trained ${all.size} merges")
      for (depth <- Seq(8, 32, all.size)) {
        val m = all.take(depth)
        def time(label: String, f: => Long): Unit = {
          val t0 = System.nanoTime()
          val rows = f
          println(f"[sweep] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$rows")
        }
        time(s"bpe_encode d=$depth", ops.text.Bpe.encode(docs, m).count())
        if (depth <= 32) {
          time(s"bpe_segment d=$depth", ops.text.Bpe.segment(docs, m).count())
          // identical output where segment still plans (BpeSpec pins the
          // equality property on arbitrary corpora)
          val diff = ops.text.Bpe.encode(docs, m)
            .except(ops.text.Bpe.segment(docs, m)).count()
          require(diff == 0, s"encode/segment diverged at depth $depth")
        } else
          // measured r10: ~89 chained transform(applyMerge) folds exceed
          // the analyzer's fixed-point budget (Max iterations (100)
          // reached for batch Resolution) — the fold chain DOES NOT
          // PLAN past ~90 merges, the concrete reason segment is the
          // verification path and the automaton is the serving path
          println(s"[sweep] bpe_segment d=$depth skipped: fold chain " +
            "exceeds the Catalyst analyzer iteration budget (the " +
            "measured serving-path ceiling)")
      }
    } catch {
      // same accounting as the main loop: a divergence (the require) or
      // train failure must not abort the sweep, lose the TOTAL line, or
      // strand the session — it is one more counted failure
      case e: Exception =>
        failures += 1
        println(s"[sweep] bpe_encode_sweep FAILED: " +
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    // Stage attribution for the composed curation DAG (SURVEY §5.5's
    // pipeline rows): time the dedup ingredients in isolation and the
    // consumer-shaped run (persisted resolution provided), so the
    // published table can say which stage dominates the end-to-end
    // number — the pair build, the resolution, or the gate+decontam
    // tail.
    if (wanted("curation_sweep")) try {
      import org.apache.spark.sql.functions.col
      val docs = io.Sources.table(spark, outDir, "documents")
      val csrc = docs.filter(col("doc_id") % 97 =!= 0)
      val bench = docs.filter(col("doc_id") % 97 === 0)
      def time(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val rows = f
        println(f"[sweep] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$rows")
      }
      val pairs = graft.CacheScope.pin(
        ops.text.Dedup.nearDupPairs(csrc, k = 32, bands = 8, threshold = 0.5))
      time("curation: pair build")(pairs.count())
      val canon = graft.CacheScope.pin(
        ops.text.Dedup.resolveCanonical(csrc, pairs))
      time("curation: resolution (CC)")(canon.count())
      time("curation: decontaminate")(
        ops.text.Corpus.decontaminate(csrc, bench, 3, 2).count())
      // consumer shape: the resolution is a PERSISTED table (here: the
      // pinned one), so this row is the DAG minus its dedup stages —
      // what every steady-state curation run pays
      time("curation: consumer DAG")(
        pipeline.Curation.curate(csrc, bench,
          resolvedCanon = Some(canon))._2.count())
      graft.CacheScope.release(spark)
    } catch {
      case e: Exception =>
        failures += 1
        println(s"[sweep] curation_sweep FAILED: " +
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    // Image dedup at sweep scale, on GENERATED bitmaps (the fixture has
    // no media table): 10k 16×16 PNGs with planted exact/near dups and a
    // 10% uniform-frame crowd — the boilerplate class whose single
    // bucket goes quadratic. Rows: uncapped self-join (the defect made
    // visible), capped self-join + the cap audit (the remediation,
    // priced), and the incremental gate against a persisted phash table
    // (the steady-state crawl shape).
    if (wanted("image_dedup_sweep")) try {
      import spark.implicits._
      val rngI = new Random(77)
      def png(pix: Array[Int]): Array[Byte] = {
        val bi = new java.awt.image.BufferedImage(
          16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var p = 0
        while (p < 256) { bi.setRGB(p % 16, p / 16, pix(p)); p += 1 }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(bi, "png", bos)
        bos.toByteArray
      }
      def genPixels(n: Int): Array[Array[Int]] = {
        val out = new Array[Array[Int]](n)
        var k = 0
        while (k < n) {
          val r = rngI.nextDouble()
          out(k) =
            if (k > 0 && r < 0.02) out(rngI.nextInt(k)) // exact dup
            else if (k > 0 && r < 0.05) { // near dup: one pixel edited
              val c = out(rngI.nextInt(k)).clone()
              c(rngI.nextInt(256)) = rngI.nextInt(1 << 24)
              c
            } else if (r < 0.10) { // uniform frame: dHash exactly 0
              val g = rngI.nextInt(256)
              Array.fill(256)((g << 16) | (g << 8) | g)
            } else Array.fill(256)(rngI.nextInt(1 << 24))
          k += 1
        }
        out
      }
      def time(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val rows = f
        println(f"[sweep] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$rows")
      }
      val nImg = 10000
      val corpusPix = genPixels(nImg)
      val media = spark.createDataset((0 until nImg).map(k =>
        ops.Multimodal.MediaRow(k.toLong, "image", png(corpusPix(k)),
          s"sweep://$k")))
      time("imageNearDup uncapped")(
        ops.Multimodal.imageNearDup(media, maxHamming = 3).count())
      graft.CacheScope.release(spark)
      time("imageNearDup cap=200")(
        ops.Multimodal.imageNearDup(media, maxHamming = 3,
          maxBucketSize = 200).count())
      val fps = graft.CacheScope.pin(ops.Multimodal.perceptualHashes(media))
      time("image cap audit")(
        ops.Multimodal.imageBandCapAudit(fps, maxBucketSize = 200).count())
      // incremental gate: 500 incoming frames — a fifth are single-pixel
      // edits of random CORPUS images (the recrawl near-dup class; edits
      // of capped uniform frames stay unmatched, the documented cap
      // trade), the rest fresh — vs the persisted phash table
      val incoming = spark.createDataset((0 until 500).map { k =>
        val pix =
          if (k % 5 == 0) {
            val c = corpusPix(rngI.nextInt(nImg)).clone()
            c(rngI.nextInt(256)) = rngI.nextInt(1 << 24)
            c
          } else genPixels(1)(0)
        ops.Multimodal.MediaRow((nImg + k).toLong, "image", png(pix),
          s"sweep://inc/$k")
      })
      time("imageNearDupAgainst cap=200")(
        ops.Multimodal.imageNearDupAgainst(incoming, fps,
          maxHamming = 3, maxBucketSize = 200).count())
      graft.CacheScope.release(spark)
    } catch {
      case e: Exception =>
        failures += 1
        println(s"[sweep] image_dedup_sweep FAILED: " +
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    // r17: the distance-registry economics rows — warm continuation
    // over a committed distance relation after an edge-APPEND wave vs
    // the cold rebuild the registry replaces, on the sf1 power-law
    // co-purchase graph. Wave split by orderkey: ~90% of orders form
    // g1 (the committed snapshot), the rest arrive as the append wave
    // (new lineitems only ADD co-purchase pairs, the unit family's
    // exact-warm precondition). The weighted twin derives STABLE
    // per-pair hash weights instead of co-occurrence counts — a wave
    // then only adds pairs and never raises an existing weight, which
    // is hopDistanceWeightedFrom's (and the r17 min-merge stream's)
    // contract; count weights would grow with the wave and void it.
    if (wanted("distance_registry_sweep")) try {
      import org.apache.spark.sql.functions._
      def time(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val rows = f
        println(f"[sweep] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$rows")
      }
      val li = io.Sources.table(spark, outDir, "lineitem")
      val nodes = io.Sources.table(spark, outDir, "part")
        .select(col("p_partkey").as("node"))
      val seeds = nodes.filter(col("node") % 20L === 0)
      val e1 = SparkEntry.coPurchaseEdges(li.filter(col("l_orderkey") % 10 =!= 0))
      val eAll = SparkEntry.coPurchaseEdges(li)
      // the loop operators materialize rounds EAGERLY at construction,
      // so every row times construction + materialization together
      var state: org.apache.spark.sql.DataFrame = null
      time("dist: cold g1 (h=4)") {
        state = graft.CacheScope.pin(
          ops.Graph.hopDistance(nodes, e1, seeds, maxHops = 4))
        state.count()
      }
      time("dist: warm +wave (r=2)")(
        ops.Graph.hopDistanceFrom(state, nodes, eAll, seeds, rounds = 2)
          .count())
      time("dist: cold g1+wave (h=4)")(
        ops.Graph.hopDistance(nodes, eAll, seeds, maxHops = 4).count())
      def wEdges(e: org.apache.spark.sql.DataFrame) =
        e.select(col("src"), col("dst"),
          (pmod(xxhash64(col("src"), col("dst")), lit(50L)) + 1)
            .as("weight"))
      var wstate: org.apache.spark.sql.DataFrame = null
      time("wdist: cold g1 (r=6)") {
        wstate = graft.CacheScope.pin(
          ops.Graph.hopDistanceWeighted(nodes, wEdges(e1), seeds,
            maxRounds = 6))
        wstate.count()
      }
      time("wdist: warm +wave (r=2)")(
        ops.Graph.hopDistanceWeightedFrom(wstate, nodes, wEdges(eAll),
          seeds, rounds = 2).count())
      time("wdist: cold g1+wave (r=6)")(
        ops.Graph.hopDistanceWeighted(nodes, wEdges(eAll), seeds,
          maxRounds = 6).count())
      graft.CacheScope.release(spark)
    } catch {
      case e: Exception =>
        failures += 1
        println(s"[sweep] distance_registry_sweep FAILED: " +
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    // r17: the embed asymmetric INGEST LOOP at sweep scale — the
    // end-to-end probe→accept→update cost per wave against the
    // persisted band registry over the full 20k-vector corpus (the
    // streaming family's economics row; q_embed_incr/q_embed_served
    // above price the probe alone). Two waves so the second row is
    // steady-state: 1k incoming each, ~30% near-copies of corpus
    // vectors (must drop) + fresh Gaussians (must accept and become
    // probe-able for wave 2).
    if (wanted("embed_ingest_sweep")) try {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      def time(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val rows = f
        println(f"[sweep] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$rows")
      }
      val rngE = new Random(4217)
      val root = s"$outDir/embed_ingest"
      // fresh state per invocation: registry versions, the AvailableNow
      // checkpoint, and accepted subdirs would otherwise replay-skip a
      // rerun into confusing no-ops
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val corpus = io.Sources.table(spark, outDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      corpus.write.mode("overwrite").parquet(s"$root/corpus")
      // threshold 0.8, NOT the operator's 0.35 default: at dim 64 a
      // random-pair cosine is ~N(0, 1/8), so against a 20k-vector
      // corpus every fresh probe would clear 0.35 by chance alone
      // (P[max of 20k ≥ 2.8σ] ≈ 1) and the gate would reject the whole
      // wave — the verify threshold must sit ABOVE the corpus-size-
      // dependent noise floor max_n(random cosine), which GROWS with
      // corpus size. The near-copy class sits at ~0.9999, far above.
      val thr = 0.8
      time("embed ingest: refresh (20k)")(
        ops.Similarity.embedSignatureRefresh(
          spark.read.parquet(s"$root/corpus"), s"$root/registry").toLong)
      // bounded collect: 600 corpus vectors seed the near-copy classes
      val nearSeeds = spark.read.parquet(s"$root/corpus")
        .filter(col("vec_id") % 33 === 0).limit(600)
        .as[(Long, Array[Float])].collect()
      def wave(ids: Range, nearFrom: Array[(Long, Array[Float])]) =
        ids.map { k =>
          if (k % 10 < 3) {
            val (_, v) = nearFrom(rngE.nextInt(nearFrom.length))
            (k.toLong, v.map(x => x + (rngE.nextGaussian() * 0.01).toFloat))
          } else
            (k.toLong, Array.fill(64)(rngE.nextGaussian().toFloat))
        }
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Array[Float])](spark)
      def drain(): Long = {
        streaming.IncrementalStream.runEmbedIngest(
          mem.toDF().toDF("vec_id", "embedding"), s"$root/corpus",
          s"$root/registry", s"$root/accepted", s"$root/ckpt",
          threshold = thr, tagScope = Some("sweep"))
        spark.read.parquet(s"$root/accepted").count()
      }
      mem.addData(wave(100000 until 101000, nearSeeds): _*)
      time("embed ingest: wave 1 (1k)")(drain())
      mem.addData(wave(101000 until 102000, nearSeeds): _*)
      time("embed ingest: wave 2 (1k)")(drain())
      graft.CacheScope.release(spark)
    } catch {
      case e: Exception =>
        failures += 1
        println(s"[sweep] embed_ingest_sweep FAILED: " +
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    println(f"[sweep] TOTAL ${(System.nanoTime() - total0) / 1e9}%.1f s  failures=$failures")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }

  /** Seeded sf1-equivalent documents + embeddings, driver-built (≈20 MB
    * of text — fixture-scale, not a distributed workload) and written as
    * parquet with the exact driver-fixture schemas.
    */
  def generate(spark: SparkSession, outDir: String, nDocs: Int, nVecs: Int,
               seed: Long): Unit = {
    import spark.implicits._
    val rng = new Random(seed)

    // the fixture's actual vocabulary — read, never regenerated
    val vocab = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split($"text", " ")).as("w"))
      .distinct().as[String].collect().sorted
    require(vocab.length > 10, s"unexpected vocabulary size ${vocab.length}")

    val langs = Seq("en", "de", "fr", "es", "zh")
    def freshText(): String =
      Seq.fill(8 + rng.nextInt(93))(vocab(rng.nextInt(vocab.length))).mkString(" ")
    def perturb(text: String, p: Double): String =
      text.split(" ").map(w =>
        if (rng.nextDouble() < p) vocab(rng.nextInt(vocab.length)) else w)
        .mkString(" ")

    val texts = new Array[String](nDocs)
    val chainStart = nDocs / 2
    val chainLen = 50
    var i = 0
    while (i < nDocs) {
      val r = rng.nextDouble()
      texts(i) =
        if (i > chainStart && i < chainStart + chainLen)
          // near-dup CHAIN: each link ~8% edited from the previous — MinHash
          // links neighbors but not distant members, so the component's
          // diameter is the chain length (the CC adversary)
          perturb(texts(i - 1), 0.08)
        else if (i > 0 && r < 0.02) texts(rng.nextInt(i)) // exact dup
        else if (i > 0 && r < 0.04) perturb(texts(rng.nextInt(i)), 0.05) // near dup
        else freshText()
      i += 1
    }
    val docs = (0 until nDocs).map { d =>
      val lang = if (rng.nextDouble() < 0.4) "en" else langs(1 + rng.nextInt(4))
      (d.toLong, texts(d), lang, s"src${rng.nextInt(20)}", texts(d).length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(8).write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val dim = 64
    val vecs = new Array[Array[Float]](nVecs)
    var v = 0
    while (v < nVecs) {
      vecs(v) =
        if (v > 0 && rng.nextDouble() < 0.005) // planted high-cosine pair
          vecs(rng.nextInt(v)).map(x => x + (rng.nextGaussian() * 0.02).toFloat)
        else Array.fill(dim)(rng.nextGaussian().toFloat)
      v += 1
    }
    (0 until nVecs).map(id => (id.toLong, vecs(id).toSeq, rng.nextInt(10)))
      .toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS array<float>) AS embedding", "label")
      .repartition(8).write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // Graph-family input at sf1 proportions (1.5M orders, ~6M lineitems,
    // 200k parts — the TPC-H sf1 shape the graph queries' edge builder
    // reads). Part popularity is POWER-LAW (u^2.5 mapping), unlike the
    // uniform fixture tables, so the sweep stresses exactly what the
    // orientation/banding arguments claim to survive: hub nodes with
    // 1000× the median degree. Hash-derived and seed-deterministic.
    locally {
      import org.apache.spark.sql.functions._
      val nParts = 200000L
      val nOrders = 1500000L
      spark.range(nParts).select(col("id").as("p_partkey"))
        .repartition(8).write.mode("overwrite")
        .parquet(s"$outDir/part.parquet")
      val u = pmod(xxhash64(col("l_orderkey"), col("ln"), lit(seed)),
        lit(1000000L)).cast("double") / lit(1000000.0)
      spark.range(nOrders)
        .select(col("id").as("l_orderkey"),
          explode(sequence(lit(1),
            (pmod(xxhash64(col("id"), lit(seed)), lit(7L)) + lit(1))
              .cast("int"))).as("ln"))
        .select(col("l_orderkey"),
          floor(pow(u, 2.5) * lit(nParts.toDouble)).cast("long")
            .as("l_partkey"),
          (pmod(xxhash64(col("l_orderkey"), col("ln"), lit(seed + 1)),
            lit(50L)) + lit(1)).cast("double").as("l_quantity"))
        .repartition(16).write.mode("overwrite")
        .parquet(s"$outDir/lineitem.parquet")
    }
  }
}
