package graft

import graft.ops.text.{Dedup, TextFns, TextStats}
import org.apache.spark.sql.functions._

/** Text-pipeline operators: shingles, dedup (exact + MinHash-LSH +
  * SimHash), language ID — unit semantics on hand-built docs.
  */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different content about spark engines"),
    (4L, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG"), // case-dup of 1
    (5L, "tiny")
  ).toDF("doc_id", "text")

  test("shingles: n-grams, short docs yield empty array") {
    val sh = docs.select($"doc_id",
      TextFns.shingles(TextFns.tokens($"text"), 2).as("sh"))
    val m = sh.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(m(5L).isEmpty)
    assert(m(1L).head == "the quick" && m(1L).size == 8)
  }

  test("exact dedup groups case-normalized duplicates") {
    val d = Dedup.exactDedup(docs)
    assert(d.count() == 4) // 1 and 4 collapse
    val grp = d.filter($"n_copies" === 2).head()
    assert(grp.getLong(grp.fieldIndex("keep_doc_id")) == 1L)
  }

  test("minhash-LSH finds the near-dup pair and no false positives") {
    val pairs = Dedup.nearDupPairs(docs, k = 16, bands = 8, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("nearDupAgainst equals union self-join restricted to cross pairs") {
    // a corpus with internal near-dups and an incoming batch that dups
    // some corpus docs, some of its own, and brings genuinely new content
    def sent(seed: Int) = {
      val r = new scala.util.Random(seed)
      (1 to 30).map(_ => s"w${r.nextInt(400)}").mkString(" ")
    }
    def mutate(s: String, at: Int) = {
      val t = s.split(" "); t(at) = "MUT"; t.mkString(" ")
    }
    val corpusRows = (1L to 60L).map(i => i -> sent(i.toInt)) ++
      Seq(61L -> mutate(sent(1), 3), 62L -> mutate(sent(2), 7)) // internal dups
    val incomingRows = (101L to 120L).map(i => i -> sent(i.toInt)) ++
      Seq(121L -> mutate(sent(5), 11), 122L -> mutate(sent(6), 2), // dup corpus
        123L -> sent(9), // exact copy of corpus doc 9
        124L -> mutate(sent(101), 4)) // dup another incoming doc
    val corpus = corpusRows.toDF("doc_id", "text")
    val incoming = incomingRows.toDF("doc_id", "text")

    val asym = Dedup.nearDupAgainst(corpus, incoming, k = 16, bands = 8,
      threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val viaUnion = Dedup.nearDupPairs(corpus.unionByName(incoming),
      k = 16, bands = 8, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => a <= 100 && b > 100 } // cross pairs only
      .map { case (a, b, j) => (b, a, j) } // orient as (incoming, corpus)
      .toSet
    assert(asym == viaUnion, s"asym=$asym union=$viaUnion")
    assert(asym.map(p => (p._1, p._2)).contains((123L, 9L)), "exact copy must pair")
    assert(asym.exists(_._1 == 121L) && asym.exists(_._1 == 122L))
    assert(!asym.exists(p => p._1 == 124L || p._2 == 124L),
      "incoming-internal dup is not a cross pair")
  }

  test("nearDupAgainstSigs: persisted-registry serve equals inline nearDupAgainst") {
    def sent(seed: Int) = {
      val r = new scala.util.Random(seed)
      (1 to 30).map(_ => s"w${r.nextInt(400)}").mkString(" ")
    }
    def mutate(s: String, at: Int) = {
      val t = s.split(" "); t(at) = "MUT"; t.mkString(" ")
    }
    val corpus = ((1L to 40L).map(i => i -> sent(i.toInt)) :+
      (41L -> mutate(sent(1), 3))).toDF("doc_id", "text")
    val incoming = ((101L to 110L).map(i => i -> sent(i.toInt)) ++
      Seq(111L -> mutate(sent(5), 11), 112L -> sent(9)))
      .toDF("doc_id", "text")

    // train-and-commit crosses the artifact boundary: serve from the
    // Manifest-read registry, never from the in-session plan
    val table = java.nio.file.Files
      .createTempDirectory("graft_sigs").toString + "/sigs"
    val v = Dedup.signatureRefresh(corpus, table, k = 16, bands = 8)
    assert(v == 1, "first commit is version 1")
    val registry = graft.io.Manifest.read(spark, table)

    val inline = Dedup.nearDupAgainst(corpus, incoming, k = 16, bands = 8,
      threshold = 0.5).as[(Long, Long, Double)].collect().toSet
    val served = Dedup.nearDupAgainstSigs(registry, corpus, incoming,
      k = 16, bands = 8, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(served == inline, s"served=$served inline=$inline")
    assert(served.map(p => (p._1, p._2)).contains((112L, 9L)),
      "exact copy must pair through the registry")

    // the cap applies to the REGISTRY side exactly as inline caps the
    // corpus side
    val cappedInline = Dedup.nearDupAgainst(corpus, incoming, k = 16,
      bands = 8, threshold = 0.5, maxBucketSize = 1)
      .as[(Long, Long, Double)].collect().toSet
    val cappedServed = Dedup.nearDupAgainstSigs(registry, corpus, incoming,
      k = 16, bands = 8, threshold = 0.5, maxBucketSize = 1)
      .as[(Long, Long, Double)].collect().toSet
    assert(cappedServed == cappedInline)

    // maintenance loop: accept the batch, append its band rows as v2 —
    // a third batch then pairs against BOTH corpora through the registry
    assert(Dedup.signatureUpdate(table, incoming, k = 16, bands = 8) == 2)
    val third = Seq(201L -> mutate(sent(3), 5),   // dups original corpus
      202L -> mutate(sent(101), 9))               // dups the ACCEPTED batch
      .toDF("doc_id", "text")
    val grown = corpus.unionByName(incoming)
    val v2 = Dedup.nearDupAgainstSigs(
      graft.io.Manifest.read(spark, table), grown, third,
      k = 16, bands = 8, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val v2Inline = Dedup.nearDupAgainst(grown, third, k = 16, bands = 8,
      threshold = 0.5).as[(Long, Long, Double)].collect().toSet
    assert(v2 == v2Inline)
    assert(v2.exists(p => p._1 == 201L && p._2 == 3L))
    assert(v2.exists(p => p._1 == 202L && p._2 == 101L),
      "accepted-batch dup must pair through the updated registry")

    // the DELETE step: retracting the accepted batch restores the v1
    // registry row-for-row (band rows are per-document)
    assert(Dedup.signatureRetract(table, incoming.select($"doc_id")) == 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(graft.io.Manifest.read(spark, table)) ==
      rows(graft.io.Manifest.readVersion(spark, table, 1)),
      "retract(update(v1, batch), batch) must equal v1")
  }

  test("simhash: identical docs hash equal, near-dups are close in Hamming distance") {
    val fp = Dedup.simhashDocs(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc4 is uppercase → different shingles → different fingerprint; doc1
    // vs doc2 differ by one token (two of eight 2-gram shingles).
    assert(!fp.contains(5L)) // "tiny" has no 2-gram shingles
    val hamming12 = java.lang.Long.bitCount(fp(1L) ^ fp(2L))
    val hamming13 = java.lang.Long.bitCount(fp(1L) ^ fp(3L))
    assert(hamming12 < hamming13, s"near-dup hamming $hamming12 !< unrelated $hamming13")
  }

  test("simhashPairs: identical-fingerprint pair surfaces at hamming 0") {
    val two = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(two)
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs.contains((1L, 2L, 0)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("jaccardNearDup: prefix-filtered result equals naive all-pairs Jaccard") {
    val pairs = Dedup.jaccardNearDup(docs, n = 2, threshold = 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().map { case (a, b, j) => ((a, b), j) }.toMap
    // Naive reference computed by hand: doc1/doc2 share 7 of 9 distinct
    // 2-gram shingles → J = 7/9; no other pair overlaps at all.
    assert(pairs.keySet == Set((1L, 2L)))
    assert(math.abs(pairs((1L, 2L)) - 7.0 / 9.0) < 1e-15)
  }

  test("jaccardNearDup is lossless on the fixture corpus: equals naive all-pairs") {
    // The PPJoin prefix/length/positional filters must only prune pairs
    // that cannot reach the threshold. Compare against a filter-free
    // cross-join ground truth on the real sf0.001 documents.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (t <- Seq(0.5, 0.6, 0.7)) {
      val fast = Dedup.jaccardNearDup(docs, n = 3, threshold = t)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val sets = docs
        .select($"doc_id", TextFns.tokens($"text").as("toks"))
        .select($"doc_id",
          array_distinct(transform(TextFns.shingles($"toks", 3), s => xxhash64(s))).as("sh"))
        .filter(size($"sh") > 0)
      val naive = sets.toDF("doc_a", "sh_a")
        .crossJoin(sets.toDF("doc_b", "sh_b"))
        .filter($"doc_a" < $"doc_b")
        .filter(size(array_intersect($"sh_a", $"sh_b")).cast("double") /
          size(array_union($"sh_a", $"sh_b")) >= t)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(fast == naive, s"threshold $t: prefix-filtered ${fast.size} != naive ${naive.size}")
    }
  }

  test("containmentPairs: an excerpt is caught directionally; exact dups " +
    "pair both ways; the container direction stays below threshold") {
    val body = (1 to 30).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 10).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, excerpt),                                 // contained in 2 and 4
      (2L, body),
      (3L, (101 to 130).map(i => s"v$i").mkString(" ")), // unrelated
      (4L, body))                                    // exact dup of 2
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, n = 3, threshold = 0.8)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    // excerpt: 8 trigram shingles, all inside the body's 28
    assert(got.keySet == Set((1L, 2L), (1L, 4L), (2L, 4L), (4L, 2L)),
      s"got $got")
    assert(got((1L, 2L)) == 1.0 && got((2L, 4L)) == 1.0)
    assert(!got.contains((2L, 1L)), "container direction is 8/28 — below")
  }

  test("resolveContained: strict excerpts drop, mutual containment keeps " +
    "the smallest id, chains drop everything but the outermost container") {
    val body = (1 to 30).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // excerpt of 2/4
      (2L, body),
      (3L, (101 to 130).map(i => s"v$i").mkString(" ")), // unrelated
      (4L, body))                                        // exact dup of 2
      .toDF("doc_id", "text")
    val got = Dedup.resolveContained(d, Dedup.containmentPairs(d))
      .as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> true, 4L -> false),
      s"got $got")
    // chain: a (10 toks) ⊂ b (20) ⊂ c (40) — only c survives
    val chain = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")),
      (2L, (1 to 20).map(i => s"w$i").mkString(" ")),
      (3L, (1 to 40).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val gotChain = Dedup.resolveContained(chain, Dedup.containmentPairs(chain))
      .as[(Long, Boolean)].collect().toMap
    assert(gotChain == Map(1L -> false, 2L -> false, 3L -> true))
  }

  test("jaccardAgainst: equals the symmetric run restricted to cross " +
    "pairs; no corpus self-pairing; maxDf recall loss is priced") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val incoming = docs.filter($"doc_id" % 2 === 1)
    val asym = Dedup.jaccardAgainst(corpus, incoming)
      .as[(Long, Long, Double)].collect().toSet
    graft.CacheScope.release(spark)
    val viaSym = Dedup.jaccardNearDup(docs)
      .as[(Long, Long, Double)].collect()
      .flatMap { case (a, b, j) =>
        if (a % 2 == 1 && b % 2 == 0) Some((a, b, j))
        else if (b % 2 == 1 && a % 2 == 0) Some((b, a, j))
        else None
      }.toSet
    graft.CacheScope.release(spark)
    assert(asym == viaSym, s"asym=${asym.size} sym-cross=${viaSym.size}")
    assert(asym.nonEmpty)
    assert(!asym.exists(p => p._1 % 2 == 0 || p._2 % 2 == 1),
      "sides must not self-pair")
    // a brutal df cap can only LOSE pairs, never invent them
    val capped = Dedup.jaccardAgainst(corpus, incoming, maxDf = 1L)
      .as[(Long, Long, Double)].collect().toSet
    graft.CacheScope.release(spark)
    assert(capped.subsetOf(asym))
  }

  test("containmentAgainst: equals the symmetric run restricted to " +
    "cross pairs; no corpus self-pairing") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val incoming = docs.filter($"doc_id" % 2 === 1)
    val asym = Dedup.containmentAgainst(corpus, incoming)
      .as[(Long, Long, Double)].collect().toSet
    val viaUnion = Dedup.containmentPairs(docs)
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => a % 2 == 1 && b % 2 == 0 }
      .toSet
    assert(asym == viaUnion, s"asym=${asym.size} union=${viaUnion.size}")
    assert(!asym.exists(p => p._1 % 2 == 0 || p._2 % 2 == 1),
      "sides must not self-pair")
  }

  test("containmentAgainstIndex: persisted-registry serve equals inline " +
    "containmentAgainst; update/retract maintain the index exactly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val incoming = docs.filter($"doc_id" % 2 === 1)
    val table = java.nio.file.Files
      .createTempDirectory("graft_cidx").toString + "/cidx"
    assert(Dedup.containmentIndexRefresh(corpus, table) == 1)
    val registry = graft.io.Manifest.read(spark, table)
    val served = Dedup.containmentAgainstIndex(registry, corpus, incoming)
      .as[(Long, Long, Double)].collect().toSet
    val inline = Dedup.containmentAgainst(corpus, incoming)
      .as[(Long, Long, Double)].collect().toSet
    CacheScope.release(spark)
    assert(served == inline,
      s"served=${served.size} inline=${inline.size}")

    // update appends a batch's rows; retract removes them exactly
    // (deterministic membership — a bare limit() re-evaluates per action)
    val batch = incoming.filter($"doc_id" < 20)
    assert(Dedup.containmentIndexUpdate(table, batch) == 2)
    val afterUpdate = graft.io.Manifest.read(spark, table)
    val direct = Dedup.containmentIndex(corpus)
      .unionByName(Dedup.containmentIndex(batch))
      .as[(Long, Long, Int)].collect().toSet
    assert(afterUpdate.as[(Long, Long, Int)].collect().toSet == direct)
    assert(Dedup.containmentIndexRetract(table,
      batch.select($"doc_id")) == 3)
    val afterRetract = graft.io.Manifest.read(spark, table)
      .as[(Long, Long, Int)].collect().toSet
    assert(afterRetract ==
      Dedup.containmentIndex(corpus).as[(Long, Long, Int)].collect().toSet,
      "retract must restore exactly the corpus-only index")
  }

  test("jaccardAgainstIndex: the SAME containment index serves the " +
    "exact-Jaccard probe; served equals inline jaccardAgainst") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val incoming = docs.filter($"doc_id" % 2 === 1)
    val table = java.nio.file.Files
      .createTempDirectory("graft_jidx").toString + "/jidx"
    assert(Dedup.containmentIndexRefresh(corpus, table) == 1)
    val registry = graft.io.Manifest.read(spark, table)
    val served = Dedup.jaccardAgainstIndex(registry, corpus, incoming)
      .as[(Long, Long, Double)].collect().toSet
    val inline = Dedup.jaccardAgainst(corpus, incoming)
      .as[(Long, Long, Double)].collect().toSet
    CacheScope.release(spark)
    assert(served == inline,
      s"served=${served.size} inline=${inline.size}")
    assert(served.nonEmpty, "fixture must exercise at least one pair")
    assert(!served.exists(p => p._1 % 2 == 0 || p._2 % 2 == 1),
      "sides must not self-pair")
  }

  test("containment df sidecar (r18): maintained through update+retract " +
    "it equals registryDf recomputed, and the sidecar-served probe " +
    "equals the inline-df probe exactly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val incoming = docs.filter($"doc_id" % 2 === 1)
    val root = java.nio.file.Files.createTempDirectory("graft_jdf").toString
    val table = root + "/jidx"
    val dfTable = root + "/jidx_df"
    assert(Dedup.containmentIndexRefresh(corpus, table) == 1)
    assert(Dedup.containmentDfRefresh(spark, table, dfTable) == 1)
    def sidecar(): Set[(Long, Long)] = graft.io.Manifest
      .read(spark, dfTable).as[(Long, Long)].collect().toSet
    def recomputed(): Set[(Long, Long)] = Dedup.registryDf(
      graft.io.Manifest.read(spark, table))
      .as[(Long, Long)].collect().toSet
    assert(sidecar() == recomputed(), "refresh must equal the aggregate")
    // probe equality: sidecar-served output == inline-df output
    val registry = graft.io.Manifest.read(spark, table)
    val viaSidecar = Dedup.jaccardAgainstIndex(registry, corpus, incoming,
      registryDfStats = Some(graft.io.Manifest.read(spark, dfTable)))
      .as[(Long, Long, Double)].collect().toSet
    CacheScope.release(spark)
    val viaInline = Dedup.jaccardAgainstIndex(registry, corpus, incoming)
      .as[(Long, Long, Double)].collect().toSet
    CacheScope.release(spark)
    assert(viaSidecar == viaInline,
      s"sidecar=${viaSidecar.size} inline=${viaInline.size}")
    assert(viaSidecar.nonEmpty, "fixture must exercise at least one pair")
    // +1 per appended posting: update with the sidecar leg keeps it the
    // exact aggregate of the NEW snapshot
    val batch = incoming.filter($"doc_id" < 20)
    assert(Dedup.containmentIndexUpdate(table, batch,
      tag = Some("t-b1"), dfTable = Some(dfTable)) == 2)
    CacheScope.release(spark)
    assert(sidecar() == recomputed(), "update must keep the sidecar exact")
    // retract decrements and drops zero rows — exact against the
    // post-delete snapshot
    assert(Dedup.containmentIndexRetract(table,
      batch.select($"doc_id"), dfTable = Some(dfTable)) > 0)
    assert(sidecar() == recomputed(),
      "retract must keep the sidecar exact")
    // crash-replay guard: a same-tag re-merge is a no-op on the sidecar
    // (the window where the sidecar committed but the registry commit
    // crashed — the registry append replays, the merge must not)
    assert(Dedup.containmentIndexUpdate(table, batch,
      tag = Some("t-b2"), dfTable = Some(dfTable)) > 0)
    CacheScope.release(spark)
    val beforeReplay = sidecar()
    Dedup.containmentIndexUpdate(table, batch,
      tag = Some("t-b2"), dfTable = Some(dfTable))
    CacheScope.release(spark)
    assert(sidecar() == beforeReplay,
      "same-tag replay must not double-count the sidecar")
  }

  test("containmentDfSweep: per-config rows equal the single-config " +
    "certificate; truth shared; candidates monotone in maxDf") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dfs = Seq(2L, 3L, 400L)
    val sweep = Dedup.containmentDfSweep(docs, dfs, n = 3, threshold = 0.8)
      .select("max_df", "n_truth", "n_cand", "n_hit")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    graft.CacheScope.release(spark)
    assert(sweep.map(_._1).toSeq == dfs)
    assert(sweep.map(_._2).distinct.length == 1, "one shared truth")
    dfs.zip(sweep).foreach { case (m, row) =>
      val single = Dedup.containmentRecallEval(docs, n = 3,
        threshold = 0.8, maxDf = m)
        .select("n_truth", "n_cand", "n_hit")
        .as[(Long, Long, Long)].collect().head
      graft.CacheScope.release(spark)
      assert((row._2, row._3, row._4) == single,
        s"maxDf $m: sweep $row vs single $single")
    }
    val cands = sweep.map(_._3)
    assert(cands.zip(cands.tail).forall { case (a, b) => a <= b },
      "a looser df cap only admits candidates")
    // df=400 is uncapped on this fixture slice → lossless → recall 1
    assert(sweep.last._4 == sweep.last._2)
  }

  test("containmentRecallEval: lossless at the default maxDf (recall 1), " +
    "and the pruned index's miss is priced, not hidden") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val full = Dedup.containmentRecallEval(docs).collect().head
    CacheScope.release(spark)
    assert(full.getLong(full.fieldIndex("n_truth")) > 0,
      "fixture must plant containment pairs or the certificate is vacuous")
    assert(full.getDouble(full.fieldIndex("recall")) == 1.0,
      "default maxDf is the lossless theorem — measured")
    assert(full.getLong(full.fieldIndex("n_hit")) ==
      full.getLong(full.fieldIndex("n_truth")))
    // an aggressive cap may or may not lose pairs on this corpus; the
    // contract is that n_cand shrinks and recall reports the truth share
    val pruned = Dedup.containmentRecallEval(docs, maxDf = 2).collect().head
    CacheScope.release(spark)
    assert(pruned.getLong(pruned.fieldIndex("n_cand")) <=
      full.getLong(full.fieldIndex("n_cand")))
    assert(pruned.getDouble(pruned.fieldIndex("recall")) <= 1.0)
  }

  test("containmentPairs is lossless on the fixture corpus: equals naive " +
    "all-ordered-pairs containment") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (t <- Seq(0.7, 0.8, 0.9)) {
      val fast = Dedup.containmentPairs(docs, n = 3, threshold = t)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val sets = docs
        .select($"doc_id", TextFns.tokens($"text").as("toks"))
        .select($"doc_id",
          array_distinct(transform(TextFns.shingles($"toks", 3), s => xxhash64(s))).as("sh"))
        .filter(size($"sh") > 0)
      val naive = sets.toDF("doc_a", "sh_a")
        .crossJoin(sets.toDF("doc_b", "sh_b"))
        .filter($"doc_a" =!= $"doc_b")
        .filter(size(array_intersect($"sh_a", $"sh_b")).cast("double") /
          size($"sh_a") >= t)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(fast == naive, s"threshold $t: prefix-filtered ${fast.size} != naive ${naive.size}")
    }
  }

  test("simhashPairs candidate recall: every pair within maxHamming that shares a band is found") {
    // Band-join completeness check on the fixture corpus: brute-force the
    // fingerprints, recompute band membership, and confirm simhashPairs
    // returns exactly the band-sharing low-Hamming pairs.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fp = Dedup.simhashDocs(docs).collect().map(r => r.getLong(0) -> r.getLong(1))
    val bands = 4
    val width = Dedup.SimhashBits / bands
    val mask = (1L << width) - 1
    def bandVals(f: Long): Seq[Long] = (0 until bands).map(j => (f >> (j * width)) & mask)
    val expected = (for {
      (a, fa) <- fp; (b, fb) <- fp if a < b
      if java.lang.Long.bitCount(fa ^ fb) <= 6
      if bandVals(fa).zip(bandVals(fb)).exists { case (x, y) => x == y }
    } yield (a, b)).toSet
    val got = Dedup.simhashPairs(docs).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("simhashAgainst: equals the symmetric run restricted to cross " +
    "pairs; served-from-registry identical; update/retract exact") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val incoming = docs.filter($"doc_id" % 2 === 1)
    val asym = Dedup.simhashAgainst(corpus, incoming)
      .as[(Long, Long, Int)].collect().toSet
    graft.CacheScope.release(spark)
    val viaSym = Dedup.simhashPairs(docs)
      .as[(Long, Long, Int)].collect()
      .flatMap { case (a, b, h) =>
        // symmetric emits a < b; the cross form keys (inc, corp)
        if (a % 2 == 1 && b % 2 == 0) Some((a, b, h))
        else if (b % 2 == 1 && a % 2 == 0) Some((b, a, h))
        else None
      }.toSet
    graft.CacheScope.release(spark)
    assert(asym == viaSym, s"asym=${asym.size} sym-cross=${viaSym.size}")
    assert(asym.nonEmpty)
    assert(!asym.exists(p => p._1 % 2 == 0 || p._2 % 2 == 1),
      "sides must not self-pair")

    val table = java.nio.file.Files
      .createTempDirectory("graft_shidx").toString + "/shidx"
    assert(Dedup.simhashIndexRefresh(corpus, table) == 1)
    val served = Dedup.simhashAgainstIndex(
      graft.io.Manifest.read(spark, table), incoming)
      .as[(Long, Long, Int)].collect().toSet
    graft.CacheScope.release(spark)
    assert(served == asym, s"served=${served.size} inline=${asym.size}")

    val batch = incoming.filter($"doc_id" < 40)
    assert(Dedup.simhashIndexUpdate(table, batch) == 2)
    val afterUpdate = graft.io.Manifest.read(spark, table)
      .as[(Long, Long)].collect().toSet
    val rebuilt = Dedup.simhashDocs(corpus.unionByName(batch))
      .as[(Long, Long)].collect().toSet
    assert(afterUpdate == rebuilt, "append must equal rebuild")
    assert(Dedup.simhashIndexRetract(table, batch.select($"doc_id")) == 3)
    assert(graft.io.Manifest.read(spark, table)
      .as[(Long, Long)].collect().toSet ==
      Dedup.simhashDocs(corpus).as[(Long, Long)].collect().toSet)
  }

  test("simhashRecallEval/simhashBandSweep: counts match the brute-force " +
    "truth; truth is bands-independent and recall never decreases with " +
    "bands") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fp = Dedup.simhashDocs(docs).collect().map(r => r.getLong(0) -> r.getLong(1))
    val maxH = 6
    val truth = (for {
      (a, fa) <- fp; (b, fb) <- fp if a < b
      if java.lang.Long.bitCount(fa ^ fb) <= maxH
    } yield (a, b)).toSet
    def bruteRow(bands: Int): (Long, Long, Long) = {
      val width = Dedup.SimhashBits / bands
      val mask = (1L << width) - 1
      def bandVals(f: Long): Seq[Long] =
        (0 until bands).map(j => (f >> (j * width)) & mask)
      val cand = (for {
        (a, fa) <- fp; (b, fb) <- fp if a < b
        if bandVals(fa).zip(bandVals(fb)).exists { case (x, y) => x == y }
      } yield (a, b)).toSet
      (truth.size.toLong, cand.size.toLong, (truth & cand).size.toLong)
    }
    val one = Dedup.simhashRecallEval(docs, bands = 4, maxHamming = maxH)
      .select("n_docs", "n_truth", "n_cand", "n_hit")
      .as[(Long, Long, Long, Long)].collect().head
    val (t4, c4, h4) = bruteRow(4)
    assert(one == ((fp.length.toLong, t4, c4, h4)), s"got $one")
    graft.CacheScope.release(spark)

    val sweep = Dedup.simhashBandSweep(docs, Seq(2, 4, 6), maxHamming = maxH)
      .select("bands", "n_truth", "n_cand", "n_hit")
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1)
    graft.CacheScope.release(spark)
    assert(sweep.map(_._1).toSeq == Seq(2, 4, 6))
    // one shared truth pass: every row sees the same bands-independent truth
    assert(sweep.forall(_._2 == t4))
    sweep.foreach { case (b, _, c, h) =>
      val (_, cb, hb) = bruteRow(b)
      assert((c, h) == ((cb, hb)), s"bands=$b: got ($c,$h) want ($cb,$hb)")
    }
    // recall is monotone in bands (wider pigeonhole coverage)
    val hits = sweep.map(_._4)
    assert(hits.zip(hits.tail).forall { case (x, y) => x <= y })
  }

  test("minhashBandAudit: exact census; a boilerplate crowd dominates " +
    "max_bucket in every band") {
    import graft.ops.text.Dedup
    // 20 identical boilerplate docs (one shared bucket per band) + two
    // organic docs with disjoint vocabularies (singleton buckets)
    val rows = (0 until 20).map(i =>
      (i.toLong, "the same cookie banner text appears on every page")) ++
      Seq((100L, "alpha beta gamma delta epsilon zeta"),
        (101L, "one two three four five six seven"))
    val audit = Dedup.minhashBandAudit(rows.toDF("doc_id", "text"),
      k = 32, bands = 8).orderBy("band_idx").collect()
    assert(audit.map(_.getInt(0)).toSeq == (0 until 8))
    audit.foreach { r =>
      assert(r.getLong(1) == 3, s"band ${r.getInt(0)}: 3 buckets expected")
      assert(r.getLong(2) == 20, "the crowd is every band's max bucket")
      assert(r.getLong(3) == 190, "20 identical docs -> C(20,2) per band")
      assert(r.getDouble(4) == 190.0 / 22)
    }
  }

  test("minhash maxBucketSize drops oversized (boilerplate) buckets") {
    // five identical docs: every band bucket has all 5 members
    val same = (1L to 5L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val all = Dedup.nearDupPairs(same, k = 16, bands = 8, threshold = 0.5)
    assert(all.count() == 10) // C(5,2)
    val capped = Dedup.nearDupPairs(same, k = 16, bands = 8, threshold = 0.5,
      maxBucketSize = 4)
    assert(capped.count() == 0, "buckets over the cap must drop entirely")
  }

  test("nearDupAuto: census-gated dispatch at all three tiers; " +
    "auto ≡ manual at each") {
    // total candidate probes per doc at banding k, from the public audit
    def cpdOf(df: org.apache.spark.sql.DataFrame, k: Int): Double =
      Dedup.minhashBandAudit(df, k, 8)
        .agg(sum("candidates_per_doc")).head().getDouble(0)

    // tier 1 — organic corpus: census blocks at the configured banding
    assert(Dedup.minhashAutoTier(docs, k = 16, bands = 8,
      maxCandidatesPerDoc = 8.0) == ("banded", 16))
    val auto1 = Dedup.nearDupAuto(docs, k = 16, bands = 8, threshold = 0.5,
      maxCandidatesPerDoc = 8.0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val man1 = Dedup.nearDupPairs(docs, k = 16, bands = 8, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(auto1 == man1)

    // tier 2 — moderate pairwise overlap floods 2-row bands (s^2 per
    // band) while 4-row bands (s^4) still block: cap between the two
    // measured censuses pins the escalate-once decision
    val mid = (0 until 30).map(i =>
      (i.toLong, "shared prefix words common to all documents in here " +
        s"unique$i tail$i body$i extra$i")).toDF("doc_id", "text")
    val (lo, hi) = (cpdOf(mid, 32), cpdOf(mid, 16))
    assert(lo < hi, s"escalation must shrink the census ($lo vs $hi)")
    val cap = (lo + hi) / 2
    assert(Dedup.minhashAutoTier(mid, 16, 8, cap) == ("banded2x", 32))
    val auto2 = Dedup.nearDupAuto(mid, 16, 8, 0.5, cap)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val man2 = Dedup.nearDupPairs(mid, 32, 8, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(auto2 == man2)

    // tier 3 — an identical-doc crowd floods EVERY banding depth (its
    // bands agree regardless of r): both censuses collapse, the capped
    // chain drops the crowd buckets and keeps the organic pair
    val crowd = (0 until 21).map(i =>
      (i.toLong, "the same cookie banner text appears on every page")) ++
      Seq((100L, "alpha beta gamma delta epsilon zeta eta theta kappa " +
        "lambda mu nu xi omicron pi rho"),
        (101L, "alpha beta gamma delta epsilon zeta eta theta kappa " +
          "lambda mu nu xi omicron pi sigma"))
    val cr = crowd.toDF("doc_id", "text")
    assert(Dedup.minhashAutoTier(cr, 16, 8, 1.0) == ("capped", 32))
    val auto3 = Dedup.nearDupAuto(cr, 16, 8, 0.5,
      maxCandidatesPerDoc = 1.0, capSize = 4L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val man3 = Dedup.nearDupPairs(cr, 32, 8, 0.5, maxBucketSize = 4L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(auto3 == man3)
    assert(auto3.contains((100L, 101L)), "organic pair survives the cap")
    assert(!auto3.exists(_._1 < 21L), "crowd pairs dropped by the cap")
  }

  test("jaccard maxDf drops stop-shingles from the index") {
    // doc 3 shares only the ubiquitous shingle with 1/2; capping df at 2
    // removes that shingle from the index, so only the true pair remains.
    val corpus = Seq(
      (1L, "common one two three four"),
      (2L, "common one two three five"),
      (3L, "common one nine ten eleven")).toDF("doc_id", "text")
    val uncapped = Dedup.jaccardNearDup(corpus, n = 2, threshold = 0.4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(uncapped == Set((1L, 2L)))
    val capped = Dedup.jaccardNearDup(corpus, n = 2, threshold = 0.4, maxDf = 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L)), "true pair survives via its rare shingles")
  }

  test("sourceStats: volume, mean quality, exact-dup rate per source") {
    val d = Seq(
      (1L, "the quick brown fox", "web"),
      (2L, "THE QUICK BROWN FOX", "web"), // normalized dup of 1 → drop
      (3L, "the quick brown fox", "books"), // cross-source dup of 1 → drop
      (4L, "something else entirely here now", "books")
    ).toDF("doc_id", "text", "source")
    val out = TextStats.sourceStats(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5))).toMap
    val (webDocs, webToks, webQ, webDups, webRatio) = out("web")
    assert(webDocs == 2 && webToks == 8 && webDups == 1 && webRatio == 0.5)
    assert(webQ > 0 && webQ <= 1.0)
    val (bkDocs, bkToks, _, bkDups, bkRatio) = out("books")
    assert(bkDocs == 2 && bkToks == 9 && bkDups == 1 && bkRatio == 0.5)
  }

  test("language ID picks the dominant stopword profile") {
    val sample = Seq(
      (1L, "en", "the cat and the dog is in to the house of things"),
      (2L, "es", "el gato de la casa que los perros una vez"),
      (3L, "de", "der hund und die katze das ist ein haus"),
      (4L, "fr", "le chien et les chats des maisons une fois")
    ).toDF("doc_id", "lang", "text")
    val out = TextStats.langId(sample).select("doc_id", "predicted_lang")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "fr"))
  }

  test("token stats: counts line up on a known doc") {
    val one = Seq((1L, "en", 11L, "a bb ccc")).toDF("doc_id", "lang", "n_chars", "text")
    val r = TextStats.tokenStats(one).head()
    assert(r.getInt(r.fieldIndex("n_tokens")) == 3)
    assert(r.getInt(r.fieldIndex("n_distinct_tokens")) == 3)
    assert(r.getInt(r.fieldIndex("text_len")) == 8)
  }

  test("charEntropy: uniform/degenerate distributions hit their exact entropies") {
    val out = graft.ops.text.TextStats.charEntropy(Seq(
      (1L, "aaaa"),     // one symbol: H = 0
      (2L, "abab"),     // two equiprobable: H = 1 bit
      (3L, "abcd"))     // four equiprobable: H = 2 bits
      .toDF("doc_id", "text"))
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    assert(out.map(r => (r._1, r._2)) == Seq((1L, 1), (2L, 2), (3L, 4)))
    val ent = out.map(_._3)
    assert(math.abs(ent(0) - 0.0) < 1e-12 && math.abs(ent(1) - 1.0) < 1e-12 &&
      math.abs(ent(2) - 2.0) < 1e-12, s"entropies $ent")
  }

  test("lmScore: hand-computed bigram log-probs, nulls below 2 tokens") {
    // corpus: "a b a b" and "a b" and "x". uni: a=3 b=3 x=1, V=3.
    // bigrams: doc1 = (a b),(b a),(a b); doc2 = (a b) ⇒ c2(a b)=3, c2(b a)=1
    val docs = Seq(
      (1L, "a b a b"), (2L, "a b"), (3L, "x")
    ).toDF("doc_id", "text")
    val got = TextStats.lmScore(docs, alpha = 0.4)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Int]),
          Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    assert(got.size == 3, "every doc appears")
    assert(got(3L) == ((None, None)), "single-token doc carries nulls")
    val v = 3.0
    val pAB = (3 + 0.4) / (3 + 0.4 * v) // P(b|a)
    val pBA = (1 + 0.4) / (3 + 0.4 * v) // P(a|b)
    val exp1 = (2 * math.log(pAB) + math.log(pBA)) / 3
    val exp2 = math.log(pAB)
    assert(got(1L)._1.contains(3) && got(2L)._1.contains(1))
    assert(math.abs(got(1L)._2.get - exp1) < 1e-12, s"doc1 ${got(1L)._2}")
    assert(math.abs(got(2L)._2.get - exp2) < 1e-12, s"doc2 ${got(2L)._2}")
    // the common-bigram doc scores above the rare-bigram doc
    assert(got(2L)._2.get > got(1L)._2.get)
  }

  test("lmScore: typical docs outscore gibberish on a seeded corpus") {
    val rnd = new scala.util.Random(5)
    val common = (1 to 50).map(_ => "the quick brown fox jumps over the lazy dog")
    val gibberish = (1 to 3).map(i =>
      (1 to 9).map(_ => s"zq${rnd.nextInt(100000)}").mkString(" "))
    val docs = (common ++ gibberish).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val scores = TextStats.lmScore(docs)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val commonAvg = (0 until 50).map(scores(_)).sum / 50
    val gibAvg = (50 until 53).map(i => scores(i.toLong)).sum / 3
    assert(commonAvg > gibAvg + 1.0,
      s"common=$commonAvg should clearly outscore gibberish=$gibAvg")
  }

  test("lmScore: equals a brute-force reference on random corpora") {
    val rnd = new scala.util.Random(31)
    val vocabWords = (0 until 20).map(i => s"w$i")
    val docs = (0 until 40).map { i =>
      (i.toLong, (0 until 2 + rnd.nextInt(11))
        .map(_ => vocabWords(rnd.nextInt(vocabWords.size))).mkString(" "))
    }
    val alpha = 0.4
    val tokenized = docs.map { case (id, t) => id -> t.split(" ").toSeq }
    val v = tokenized.flatMap(_._2).distinct.size.toDouble
    // reference model computed independently in Scala, any order
    def reference(order: Int): Map[Long, Option[Double]] = {
      def counts(n: Int) = tokenized
        .flatMap { case (_, t) => t.sliding(n).filter(_.size == n).map(_.mkString(" ")) }
        .groupBy(identity).view.mapValues(_.size).toMap
      val ctx = counts(order - 1)
      val ng = counts(order)
      tokenized.map { case (id, t) =>
        val lps = t.sliding(order).filter(_.size == order).toSeq.map { g =>
          math.log((ng(g.mkString(" ")) + alpha) /
            (ctx(g.init.mkString(" ")) + alpha * v))
        }
        id -> (if (lps.isEmpty) None else Some(lps.sum / lps.size))
      }.toMap
    }
    for (order <- Seq(2, 3)) {
      val expected = reference(order)
      val got = TextStats.lmScore(docs.toDF("doc_id", "text"), alpha, order)
        .collect().map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Double]))
        .toMap
      assert(got.keySet == expected.keySet)
      expected.foreach { case (id, exp) =>
        (exp, got(id)) match {
          case (Some(e), Some(g)) =>
            assert(math.abs(e - g) < 1e-9, s"order=$order doc $id: $g vs $e")
          case (a, b) => assert(a == b, s"order=$order doc $id: $b vs $a")
        }
      }
    }
  }

  test("vocabCoverage: exact cumulative occurrence shares at each cut") {
    val d = Seq((1L, "a a a b b c"), (2L, "a b d")).toDF("doc_id", "text")
    // cf: a=4, b=3, c=1, d=1 → total 9; ranks a,b,c,d (cf desc, term)
    val r = TextStats.vocabCoverage(d, Seq(1, 2, 4))
      .orderBy("vocab_size")
      .as[(Int, Long, Long, Long, Double)].collect().toSeq
    assert(r == Seq((1, 4L, 4L, 9L, 4.0 / 9), (2, 4L, 7L, 9L, 7.0 / 9),
      (4, 4L, 9L, 9L, 1.0)))
  }

  // clusterComponents runs distributed rounds while its edge table (16
  // bytes an edge) exceeds spark.sql.autoBroadcastJoinThreshold, then
  // finishes on the driver. Every component case runs on both sides:
  //   default (10 MB) — every input here fits: driver finish, no rounds;
  //   -1              — never fits: distributed rounds only;
  //   16 × 200 bytes  — inputs over 200 edges (the 10k path, the 60-clique)
  //                     run at least one round, then finish on the driver.
  private val ccBudgets = Seq("default" -> None, "rounds only" -> Some("-1"),
    "200 edges" -> Some((16 * 200).toString))

  private def atEachCcBudget(body: String => Unit): Unit = ccBudgets.foreach {
    case (label, None) => body(label)
    case (label, Some(bytes)) =>
      withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> bytes)(body(label))
  }

  /** Plain union-find: every doc in some pair -> min id of its component. */
  private def unionFindComponents(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(x => x -> find(x)).toMap
  }

  private def componentRows(pairs: Seq[(Long, Long)], maxIter: Int = 25): Array[(Long, Long)] =
    Dedup.clusterComponents(pairs.toDF("doc_a", "doc_b"), maxIter)
      .as[(Long, Long)].collect()

  /** Labels by doc; a doc with two output rows fails here, not in a Map. */
  private def components(pairs: Seq[(Long, Long)], maxIter: Int = 25): Map[Long, Long] = {
    val rows = componentRows(pairs, maxIter)
    val out = rows.toMap
    assert(rows.length == out.size, s"duplicate doc rows: ${rows.length} rows, ${out.size} docs")
    out
  }

  test("clusterComponents: chains converge to the min label") {
    // two components: a 5-chain (needs multiple propagation rounds) and a pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    atEachCcBudget { budget =>
      val out = components(pairs)
      assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
        10L -> 10L, 11L -> 10L), budget)
      assert(out == unionFindComponents(pairs), budget)
    }
  }

  test("resolveCanonical: cluster minimum survives, singletons keep themselves") {
    val docs = Seq(1L, 2L, 3L, 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    atEachCcBudget { budget =>
      val out = Dedup.resolveCanonical(docs, pairs)
        .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
      assert(out == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
        (7L, 7L, true)), budget)
    }
  }

  test("clusterComponents: 10k-node path graph converges in O(log n) rounds") {
    // diameter 9999 — plain min-label propagation would need ~10k rounds
    // and hard-fail; large-star/small-star must converge within 20 (the
    // "rounds only" budget checks the bound with no driver finish).
    val n = 10000L
    val pairs = (0L until n - 1).map(i => (i, i + 1))
    atEachCcBudget { budget =>
      val rows = componentRows(pairs, maxIter = 20)
      assert(rows.length == n, budget)
      val out = rows.toMap
      assert(out.forall(_._2 == 0L),
        s"$budget: all labels must be 0; bad: ${out.filterNot(_._2 == 0L).take(5).toSeq}")
      assert(out == unionFindComponents(pairs), budget)
    }
  }

  test("clusterComponents: self-pairs label themselves") {
    val pairs = Seq((5L, 5L), (1L, 2L))
    atEachCcBudget { budget =>
      val out = components(pairs)
      assert(out == Map(5L -> 5L, 1L -> 1L, 2L -> 1L), budget)
      assert(out == unionFindComponents(pairs), budget)
    }
  }

  test("resolveBest: highest-quality member survives, ties to min id") {
    val scored = Seq((1L, 0.2), (2L, 0.9), (3L, 0.5), (4L, 0.9))
      .toDF("doc_id", "quality_score")
    val pairs = Seq((1L, 2L), (2L, 4L)).toDF("doc_a", "doc_b")
    atEachCcBudget { budget =>
      val r = Dedup.resolveBest(scored, pairs)
        .as[(Long, Long, Boolean)].collect().toSet
      // component {1,2,4}: best score 0.9 ties between 2 and 4 → 2;
      // 3 is a singleton and keeps itself
      assert(r == Set((1L, 2L, false), (2L, 2L, true), (4L, 2L, false),
        (3L, 3L, true)), budget)
    }
  }

  test("clusterComponents: equals union-find on random graphs") {
    val rng = new scala.util.Random(2027)
    val random = (0 until 3).map { trial =>
      val n = 60
      s"random trial $trial" -> Seq.fill(50) {
        val a = rng.nextInt(n).toLong; val b = rng.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
    }
    // 1,770 edges > 200: the "200 edges" budget runs a round before its
    // driver finish (one round contracts a clique to a 59-edge star)
    val clique = "60-clique" -> (for (a <- 0L until 60L; b <- a + 1 until 60L) yield (a, b))
    atEachCcBudget { budget =>
      (random :+ clique).foreach { case (input, pairs) =>
        assert(components(pairs) == unionFindComponents(pairs), s"$budget, $input")
      }
    }
  }

  test("minhashRecallEval: perfect recall on a caught pair, counts consistent") {
    import spark.implicits._
    val r = Dedup.minhashRecallEval(docs, k = 16, bands = 8, threshold = 0.5)
      .head()
    // truth within the 5-doc slice: only (1,2); 8 bands of r=2 catch a
    // ~0.8-jaccard pair with near-certainty (deterministic given md5)
    assert(r.getLong(r.fieldIndex("n_docs")) == 5L)
    assert(r.getLong(r.fieldIndex("n_truth")) == 1L)
    assert(r.getLong(r.fieldIndex("n_hit")) == 1L)
    assert(r.getDouble(r.fieldIndex("recall")) == 1.0)
    val nCand = r.getLong(r.fieldIndex("n_cand"))
    assert(nCand >= 1L)
    assert(r.getDouble(r.fieldIndex("precision")) == 1.0 / nCand)
  }

  test("minhashRecallEval: empty truth yields NULL recall, not a crash") {
    import spark.implicits._
    val distinctDocs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six"),
      (3L, "red green blue yellow purple")
    ).toDF("doc_id", "text")
    val r = Dedup.minhashRecallEval(distinctDocs, k = 16, bands = 8,
      threshold = 0.9).head()
    assert(r.getLong(r.fieldIndex("n_truth")) == 0L)
    assert(r.isNullAt(r.fieldIndex("recall")))
    assert(r.getLong(r.fieldIndex("n_hit")) == 0L)
  }

  test("minhashConfigSweep: per-config rows, shared truth, deeper r lowers candidates") {
    import spark.implicits._
    val rows = Dedup.minhashConfigSweep(docs, Seq((16, 8), (16, 2)),
      threshold = 0.5)
      .orderBy("bands")
      .collect()
    assert(rows.length == 2)
    // truth is config-independent: same n_truth on every row
    assert(rows.map(_.getLong(rows(0).fieldIndex("n_truth"))).distinct.length == 1)
    val byBands = rows.map(r => r.getInt(r.fieldIndex("bands")) ->
      r.getLong(r.fieldIndex("n_cand"))).toMap
    // 2 bands of r=8 collide less than 8 bands of r=2
    assert(byBands(2) <= byBands(8))
  }

  test("lmScoreWith: self-model serve equals lmScore; OOV gets the smoothed floor") {
    import spark.implicits._
    val corpus = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val direct = TextStats.lmScore(corpus).orderBy("doc_id").collect().toSeq
    val served = TextStats.lmScoreWith(corpus, TextStats.lmModel(corpus))
      .orderBy("doc_id").collect().toSeq
    assert(served == direct, "serve on the training corpus must equal fit+score")
    // a fully-unseen doc: every bigram floors at ln(alpha / (0 + alpha*V)) = ln(1/V)
    val oov = TextStats.lmScoreWith(Seq((9L, "x y x")).toDF("doc_id", "text"),
      TextStats.lmModel(corpus)).head()
    val v = 3.0 // vocabulary of the model corpus: a, b, c
    assert(oov.getInt(1) == 2)
    assert(math.abs(oov.getDouble(2) - math.log(1.0 / v)) < 1e-12)
  }

  test("knScore: hand-computed Kneser-Ney probabilities; continuation " +
    "mass punishes the frequent-but-predictable continuation") {
    import spark.implicits._
    // grams: (a b) x2, (a c) x1 -> ctx a: cv=3 nf=2; np: b<-{a}=1, c<-{a}=1
    // types=2, V={a,b,c}=3
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "a b")).toDF("doc_id", "text")
    val got = TextStats.knScore(docs)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val pcont = (1 + 0.4) / (2 + 0.4 * 3) // both b and c have np=1
    val pAB = (2 - 0.75) / 3.0 + 0.75 * 2 / 3.0 * pcont
    val pAC = (1 - 0.75) / 3.0 + 0.75 * 2 / 3.0 * pcont
    assert(math.abs(got(1L) - math.log(pAB)) < 1e-12, s"got ${got(1L)}")
    assert(math.abs(got(2L) - math.log(pAC)) < 1e-12, s"got ${got(2L)}")
    assert(got(3L) == got(1L))
    assert(got(1L) > got(2L), "the twice-seen bigram outscores the once-seen")
  }

  test("knScoreWith: unseen context backs off to pure continuation; " +
    "seen context with unseen continuation keeps its discount mass") {
    import spark.implicits._
    val model = TextStats.knModel(
      Seq((1L, "a b"), (2L, "a c"), (3L, "a b")).toDF("doc_id", "text"))
    def score(text: String) = TextStats.knScoreWith(
      Seq((9L, text)).toDF("doc_id", "text"), model).head().getDouble(2)
    // "x y": ctx x unseen -> P = Pcont(y) = (0 + 0.4) / (2 + 0.4*3)
    assert(math.abs(score("x y") - math.log(0.4 / 3.2)) < 1e-12)
    // "a a": ctx a seen, bigram (a a) unseen, word a never a continuation
    // -> P = 0 + (0.75*2/3) * ((0 + 0.4) / 3.2)
    assert(math.abs(score("a a") - math.log(0.75 * 2 / 3.0 * (0.4 / 3.2))) < 1e-12)
    // "a b": the fully-seen case scores strictly above both backoffs
    assert(score("a b") > score("a a") && score("a a") > Double.NegativeInfinity)
  }

  test("knScoreLines: within-line bigrams score under the doc-trained " +
    "KN model; short lines NULL") {
    import spark.implicits._
    val corpus = Seq((1L, "a b"), (2L, "a c"), (3L, "a b")).toDF("doc_id", "text")
    val nl = Seq((1L, "a b\nc")).toDF("doc_id", "text")
    val rows = TextStats.knScoreLines(nl, TextStats.knModel(corpus))
      .orderBy("doc_id", "pos").collect()
    // line 0 "a b": P(b|a) = (2-.75)/3 + (.75*2/3)*((1+.4)/(2+.4*3))
    val pAB = (2 - 0.75) / 3.0 + 0.75 * 2 / 3.0 * ((1 + 0.4) / (2 + 0.4 * 3))
    assert(rows(0).getInt(rows(0).fieldIndex("n_bigrams")) == 1)
    assert(math.abs(rows(0).getDouble(rows(0).fieldIndex("avg_logp")) -
      math.log(pAB)) < 1e-12)
    // line 1 "c": no bigrams -> NULL
    assert(rows(1).isNullAt(rows(1).fieldIndex("avg_logp")))
  }

  test("knRefresh: Manifest round-trip serves the committed KN model " +
    "exactly; typical docs outscore gibberish") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val common = (1 to 50).map(_ => "the quick brown fox jumps over the lazy dog")
    val gib = (1 to 3).map(_ =>
      (1 to 9).map(_ => s"zq${rnd.nextInt(100000)}").mkString(" "))
    val docs = (common ++ gib).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val table = java.nio.file.Files.createTempDirectory("graft_kn").toString + "/kn"
    TextStats.knRefresh(docs, table)
    val served = TextStats.knScoreWith(docs,
      graft.io.Manifest.read(spark, table)).orderBy("doc_id").collect().toSeq
    assert(served == TextStats.knScore(docs).orderBy("doc_id").collect().toSeq,
      "artifact round-trip must change nothing")
    val scores = served.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val commonAvg = (0 until 50).map(i => scores(i.toLong)).sum / 50
    val gibAvg = (50 until 53).map(i => scores(i.toLong)).sum / 3
    assert(commonAvg > gibAvg + 1.0,
      s"common=$commonAvg should clearly outscore gibberish=$gibAvg")
  }

  test("kn3ScoreWith: hand-computed two-tier tree; unseen trigram " +
    "context backs off to the EXACT bigram-tier probability") {
    import spark.implicits._
    // trigrams: "a b c"x2, "a b d"x1; bigrams: "a b"x3, "b c"x2, "b d"x1
    // ctx2("a b") = (cuv 3, nf2 2); ctx(b) = (cv 3, nf 2); V = 4, types = 3
    val corpus = Seq((1L, "a b c"), (2L, "a b d"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val model = TextStats.kn3Model(corpus)
    def score(text: String) = TextStats.kn3ScoreWith(
      Seq((9L, text)).toDF("doc_id", "text"), model).head().getDouble(2)
    val pcontB = (1 + 0.4) / (3 + 0.4 * 4)
    val pcontC = (1 + 0.4) / (3 + 0.4 * 4)
    // fully seen: P3(c|ab) = (2-.75)/3 + (.75*2/3)*P2(c|b)
    val p2cb = (2 - 0.75) / 3.0 + 0.75 * 2 / 3.0 * pcontC
    val p3 = (2 - 0.75) / 3.0 + 0.75 * 2 / 3.0 * p2cb
    assert(math.abs(score("a b c") - math.log(p3)) < 1e-12)
    // unseen trigram context "x a": backs off to exactly P2(b|a)
    val p2ba = (3 - 0.75) / 3.0 + 0.75 * 1 / 3.0 * pcontB
    assert(math.abs(score("x a b") - math.log(p2ba)) < 1e-12)
    // wholly unseen: bottoms out on the continuation floor, positive
    assert(math.abs(score("x y z") - math.log(0.4 / (3 + 0.4 * 4))) < 1e-12)
    // under 3 tokens: NULL trigram score (the knScoreWith null contract)
    val short = TextStats.kn3ScoreWith(
      Seq((9L, "a b")).toDF("doc_id", "text"), model).head()
    assert(short.isNullAt(1) && short.isNullAt(2))
    // Manifest round-trip serves the committed model exactly
    val table = java.nio.file.Files
      .createTempDirectory("graft_kn3").toString + "/kn3"
    TextStats.kn3Refresh(corpus, table)
    val served = TextStats.kn3ScoreWith(corpus,
      graft.io.Manifest.read(spark, table)).orderBy("doc_id").collect().toSeq
    assert(served ==
      TextStats.kn3Score(corpus).orderBy("doc_id").collect().toSeq)
  }

  test("kn3ScoreLines: within-line trigrams score under the doc-trained " +
    "model; short lines NULL; line grain equals doc grain on a " +
    "one-line doc") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c"), (2L, "a b d"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val model = TextStats.kn3Model(corpus)
    val nl = Seq((1L, "a b c\nx y")).toDF("doc_id", "text")
    val rows = TextStats.kn3ScoreLines(nl, model)
      .orderBy("doc_id", "pos").collect()
    // line 0 "a b c": exactly the doc-grain score of the same string
    val doc = TextStats.kn3ScoreWith(
      Seq((9L, "a b c")).toDF("doc_id", "text"), model).head()
    assert(rows(0).getInt(rows(0).fieldIndex("n_trigrams")) == 1)
    assert(rows(0).getDouble(rows(0).fieldIndex("avg_logp")) ==
      doc.getDouble(2), "line grain must equal doc grain on one line")
    // line 1 "x y": under 3 tokens -> NULL
    assert(rows(1).isNullAt(rows(1).fieldIndex("avg_logp")))
  }

  test("kn5ScoreWith: hand-computed four-tier tree; unseen 5-gram " +
    "context backs off to the EXACT 4-gram tier, tier by tier to the " +
    "continuation floor") {
    import spark.implicits._
    // 5-grams: "a b c d e"x2, "a b c d f"x1; ctx4("a b c d") = (3, 2)
    // 4-grams: "a b c d"x3, "b c d e"x2, "b c d f"x1;
    //   ctx3("a b c") = (3, 1), ctx3("b c d") = (3, 2)
    // trigram/bigram tiers as in the kn3 fixture shape; types=5, V=6
    val corpus = Seq((1L, "a b c d e"), (2L, "a b c d f"),
      (3L, "a b c d e")).toDF("doc_id", "text")
    val model = TextStats.kn5Model(corpus)
    def score(text: String) = TextStats.kn5ScoreWith(
      Seq((9L, text)).toDF("doc_id", "text"), model).head().getDouble(2)
    val pcE = (1 + 0.4) / (5 + 0.4 * 6)
    val p2e = (2 - 0.75) / 3.0 + 0.75 * 2 / 3.0 * pcE // P2(e|d)
    val p3e = (2 - 0.75) / 3.0 + 0.75 * 2 / 3.0 * p2e // P3(e|cd)
    val p4e = (2 - 0.75) / 3.0 + 0.75 * 2 / 3.0 * p3e // P4(e|bcd)
    val p5e = (2 - 0.75) / 3.0 + 0.75 * 2 / 3.0 * p4e // P5(e|abcd)
    assert(math.abs(score("a b c d e") - math.log(p5e)) < 1e-12)
    // unseen 5-gram context "x a b c": degrades to EXACTLY P4(d|abc)
    val pcD = (1 + 0.4) / (5 + 0.4 * 6)
    val p2d = (3 - 0.75) / 3.0 + 0.75 * 1 / 3.0 * pcD // P2(d|c)
    val p3d = (3 - 0.75) / 3.0 + 0.75 * 1 / 3.0 * p2d // P3(d|bc)
    val p4d = (3 - 0.75) / 3.0 + 0.75 * 1 / 3.0 * p3d // P4(d|abc)
    assert(math.abs(score("x a b c d") - math.log(p4d)) < 1e-12,
      "unseen top context must yield the exact 4-gram tier")
    // two tiers unseen: degrades to P3(d|bc) — and that value must
    // EQUAL the standalone kn3 model's score of the same trigram
    // (kn3Model's rows ride inside kn5Model verbatim)
    assert(math.abs(score("x y b c d") - math.log(p3d)) < 1e-12)
    val kn3 = TextStats.kn3ScoreWith(
      Seq((9L, "b c d")).toDF("doc_id", "text"),
      TextStats.kn3Model(corpus)).head().getDouble(2)
    assert(score("x y b c d") == kn3,
      "order-3 degradation must equal the standalone trigram model bit-for-bit")
    // wholly unseen: bottoms out on the continuation floor, positive
    assert(math.abs(score("v w x y z") -
      math.log(0.4 / (5 + 0.4 * 6))) < 1e-12)
    // under 5 tokens: NULL (the knScoreWith null contract)
    val short = TextStats.kn5ScoreWith(
      Seq((9L, "a b c d")).toDF("doc_id", "text"), model).head()
    assert(short.isNullAt(1) && short.isNullAt(2))
    // Manifest round-trip serves the committed model exactly
    val table = java.nio.file.Files
      .createTempDirectory("graft_kn5").toString + "/kn5"
    TextStats.kn5Refresh(corpus, table)
    val served = TextStats.kn5ScoreWith(corpus,
      graft.io.Manifest.read(spark, table)).orderBy("doc_id").collect().toSeq
    assert(served ==
      TextStats.kn5Score(corpus).orderBy("doc_id").collect().toSeq)
  }

  test("kn5ScoreLines: within-line 5-grams score under the doc-trained " +
    "model; short lines NULL; line grain equals doc grain on a " +
    "one-line doc") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d e"), (2L, "a b c d f"),
      (3L, "a b c d e")).toDF("doc_id", "text")
    val model = TextStats.kn5Model(corpus)
    val nl = Seq((1L, "a b c d e\nx y")).toDF("doc_id", "text")
    val rows = TextStats.kn5ScoreLines(nl, model)
      .orderBy("doc_id", "pos").collect()
    val doc = TextStats.kn5ScoreWith(
      Seq((9L, "a b c d e")).toDF("doc_id", "text"), model).head()
    assert(rows(0).getInt(rows(0).fieldIndex("n_5grams")) == 1)
    assert(rows(0).getDouble(rows(0).fieldIndex("avg_logp")) ==
      doc.getDouble(2), "line grain must equal doc grain on one line")
    // line 1 "x y": under 5 tokens -> NULL
    assert(rows(1).isNullAt(rows(1).fieldIndex("avg_logp")))
  }

  test("knPrune: a pruned trigram scores EXACTLY its backoff value; a " +
    "pruned context degrades wholesale to the lower tier; the default " +
    "threshold is the identity") {
    import spark.implicits._
    // the kn3 fixture: tri "a b c"x2, "a b d"x1; ctx2("a b") = (3, 2);
    // bigram tier (never pruned): ctx(b) = (3, 2); types = 3, V = 4
    val corpus = Seq((1L, "a b c"), (2L, "a b d"), (3L, "a b c"))
      .toDF("doc_id", "text")
    def score(text: String, model: org.apache.spark.sql.DataFrame) =
      TextStats.kn3ScoreWith(
        Seq((9L, text)).toDF("doc_id", "text"), model).head().getDouble(2)
    // threshold 2: the singleton trigram "a b d" is pruned (1 row),
    // its surviving context keeps the TRUE (cuv, nf2) = (3, 2) stats
    val full = TextStats.kn3Model(corpus)
    val pruned = TextStats.kn3Model(corpus, minCount3 = 2)
    assert(full.count() - pruned.count() == 1,
      "threshold 2 must drop exactly the singleton tri row")
    assert(pruned.filter(col("kind").isin("tri", "ctx2") &&
      col("cnt") < 2).count() == 0)
    // the pruned trigram's direct-mass term zeroes; what remains is
    // exactly d·nf2/cuv · P2(d|b) — the value an UNSEEN continuation
    // of the same context gets
    val pcD = (1 + 0.4) / (3 + 0.4 * 4)
    val p2db = (1 - 0.75) / 3.0 + 0.75 * 2 / 3.0 * pcD
    assert(score("a b d", pruned) == math.log(0.75 * 2 / 3.0 * p2db),
      "pruned trigram must score exactly its backoff value")
    // the surviving trigram still scores its full-model value
    assert(score("a b c", pruned) == score("a b c", full))
    // threshold 4 prunes the CONTEXT row too: the whole ctx2 tier
    // degrades wholesale to the committed bigram tier
    val ctxPruned = TextStats.kn3Model(corpus, minCount3 = 4)
    val pcC = (1 + 0.4) / (3 + 0.4 * 4)
    val p2cb = (2 - 0.75) / 3.0 + 0.75 * 2 / 3.0 * pcC
    assert(score("a b c", ctxPruned) == math.log(p2cb),
      "pruned context must degrade to exactly the bigram tier")
    // default thresholds are the identity (knPrune returns the model)
    assert(TextStats.knPrune(full, 1L, 1L, 1L) eq full)
    // kn5: singletons pruned at every order >= 3 (kn5ModelPruned) —
    // "a b c d f" loses its g5/g4/tri rows but every context row
    // survives, so the score is the three-deep backoff chain onto the
    // unpruned bigram tier
    val corpus5 = Seq((1L, "a b c d e"), (2L, "a b c d f"),
      (3L, "a b c d e")).toDF("doc_id", "text")
    val p5 = TextStats.kn5ModelPruned(corpus5)
    val pcF = (1 + 0.4) / (5 + 0.4 * 6)
    val p2f = (1 - 0.75) / 3.0 + 0.75 * 2 / 3.0 * pcF // P2(f|d)
    val expected = 0.75 * 2 / 3.0 *
      (0.75 * 2 / 3.0 * (0.75 * 2 / 3.0 * p2f))
    val got = TextStats.kn5ScoreWith(
      Seq((9L, "a b c d f")).toDF("doc_id", "text"), p5).head().getDouble(2)
    assert(got == math.log(expected),
      "kn5 singleton must backoff through every pruned tier exactly")
    // and the drift instrument prices it: one row, pruned smaller,
    // only the doc carrying the singleton drifts
    val drift = TextStats.kn5PruneDrift(corpus5).head()
    assert(drift.getLong(drift.fieldIndex("model_rows")) >
      drift.getLong(drift.fieldIndex("pruned_rows")))
    assert(drift.getInt(drift.fieldIndex("n_scored")) == 3)
    val sumD = drift.getDecimal(drift.fieldIndex("sum_abs_drift"))
    val maxD = drift.getDecimal(drift.fieldIndex("max_abs_drift"))
    assert(sumD.compareTo(maxD) == 0,
      "exactly one of the three docs should drift")
    assert(maxD.signum() > 0)
  }

  test("lmRefresh: Manifest round-trip serves the committed model exactly") {
    import spark.implicits._
    val corpus = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val table = java.nio.file.Files.createTempDirectory("graft_lm").toString + "/lm"
    TextStats.lmRefresh(corpus, table)
    val served = TextStats.lmScoreWith(corpus,
      graft.io.Manifest.read(spark, table)).orderBy("doc_id").collect().toSeq
    assert(served == TextStats.lmScore(corpus).orderBy("doc_id").collect().toSeq)
  }

  test("lmScoreLines: within-line bigrams score under the doc model; short lines NULL") {
    import spark.implicits._
    val corpus = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val nl = Seq((1L, "a b\nc"), (2L, "a b c")).toDF("doc_id", "text")
    val rows = TextStats.lmScoreLines(nl, TextStats.lmModel(corpus))
      .orderBy("doc_id", "pos").collect()
    // doc 1 line 0 "a b": one bigram seen 3x in the model corpus
    val r0 = rows(0)
    assert(r0.getInt(r0.fieldIndex("n_bigrams")) == 1)
    // P(b|a) = (3 + 0.4) / (c1(a)=3 + 0.4*3)
    assert(math.abs(r0.getDouble(r0.fieldIndex("avg_logp")) -
      math.log(3.4 / 4.2)) < 1e-12)
    // doc 1 line 1 "c": no bigrams -> NULL score
    assert(rows(1).isNullAt(rows(1).fieldIndex("avg_logp")))
    // doc 2 "a b c": both bigrams in-model, avg of the two
    val r2 = rows(2)
    assert(r2.getInt(r2.fieldIndex("n_bigrams")) == 2)
    assert(math.abs(r2.getDouble(r2.fieldIndex("avg_logp")) -
      (math.log(3.4 / 4.2) + math.log(1.4 / 4.2)) / 2) < 1e-12)
  }
}
