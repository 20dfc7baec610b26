package graft

import java.nio.file.Files

import graft.io.Manifest
import org.apache.spark.sql.functions._

/** Snapshot-committed table: reader-safe swap semantics, crash-dir
  * invisibility, compaction, and retention.
  */
class ManifestSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft_manifest").toString + "/t"

  test("write/read roundtrip; a new snapshot replaces without disturbing readers") {
    val t = tmp()
    val v1 = Manifest.write((1L to 10L).toDF("x"), t)
    assert(v1 == 1)
    assert(Manifest.read(spark, t).count() == 10)
    // a reader resolved on v1 keeps its files across the v2 commit
    val pinned = spark.read.parquet(s"$t/v1")
    val v2 = Manifest.write((1L to 3L).toDF("x"), t)
    assert(v2 == 2)
    assert(pinned.count() == 10, "pre-swap reader must be undisturbed")
    assert(Manifest.read(spark, t).count() == 3, "new readers see the new snapshot")
  }

  test("an uncommitted (crashed) snapshot dir is invisible and its version never reused") {
    val t = tmp()
    Manifest.write((1L to 5L).toDF("x"), t)
    // simulate a writer that died after writing data, before the marker
    (99L to 99L).toDF("x").write.parquet(s"$t/v2")
    assert(Manifest.read(spark, t).count() == 5, "uncommitted dir must be ignored")
    assert(Manifest.currentVersion(spark, t).contains(1))
    // the next commit skips past the dead dir instead of reusing v2
    val v = Manifest.write((1L to 7L).toDF("x"), t)
    assert(v == 3)
    assert(Manifest.read(spark, t).count() == 7)
  }

  test("compact rewrites to the computed file count with identical rows, as a new snapshot") {
    val t = tmp()
    Manifest.commit(spark, t) { dir =>
      spark.range(1000).toDF("x").repartition(8).write.parquet(dir)
    }
    def files(v: Int) = new java.io.File(s"$t/v$v").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files(1) == 8)
    // huge target → everything fits one file
    val v = Manifest.compact(spark, t, targetBytes = 1L << 30)
    assert(v == 2 && files(2) == 1)
    val before = spark.read.parquet(s"$t/v1").as[Long].collect().sorted.toSeq
    val after = Manifest.read(spark, t).as[Long].collect().sorted.toSeq
    assert(before == after, "compaction must not change row content")
  }

  test("readVersion time-travels; diff classifies changes between snapshots") {
    val t = tmp()
    Manifest.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), t)
    Manifest.write(Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("k", "v"), t)
    assert(Manifest.readVersion(spark, t, 1).count() == 3)
    intercept[IllegalArgumentException](Manifest.readVersion(spark, t, 9))
    val d = Manifest.diff(spark, t, 1, 2, Seq("k"), Seq("v"))
      .select("k", "change_type")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed", 4L -> "added"),
      s"got $d")
  }

  test("writeTagged records a commit tag; plain writes read as untagged; " +
    "the tag is parquet-invisible and versioned with the snapshot") {
    val t = tmp()
    assert(Manifest.currentTag(spark, t).isEmpty, "no table -> no tag")
    Manifest.write((1L to 3L).toDF("x"), t)
    assert(Manifest.currentTag(spark, t).isEmpty, "plain write -> untagged")
    val v2 = Manifest.writeTagged((1L to 5L).toDF("x"), t, "batch-7")
    assert(v2 == 2)
    assert(Manifest.currentTag(spark, t).contains("batch-7"))
    // the _graft_tag file must not leak into the data read
    assert(Manifest.read(spark, t).count() == 5)
    // a later untagged commit hides the old tag (it belongs to v2, not v3)
    Manifest.write((1L to 2L).toDF("x"), t)
    assert(Manifest.currentTag(spark, t).isEmpty)
    // time-travel: v2's data is intact and still carries its tag file
    assert(Manifest.readVersion(spark, t, 2).count() == 5)
  }

  test("vacuum keeps the newest snapshots and drops marker before data") {
    val t = tmp()
    (1 to 4).foreach(i => Manifest.write((1L to i.toLong).toDF("x"), t))
    Manifest.vacuum(spark, t, keep = 2)
    assert(!new java.io.File(s"$t/v1").exists() && !new java.io.File(s"$t/v2").exists())
    assert(new java.io.File(s"$t/v3").exists() && new java.io.File(s"$t/v4").exists())
    assert(Manifest.read(spark, t).count() == 4)
    assert(Manifest.currentVersion(spark, t).contains(4))
  }

  test("dim refresh: bare-dir overwrite crashes a pinned reader; the manifest refresh doesn't") {
    import graft.datagen.DataGen
    import graft.pipeline.Incremental
    val root = Files.createTempDirectory("graft_dimswap").toString
    val wh = Incremental.Warehouse(s"$root/wh")
    DataGen.writeCustomersCsv(spark, s"$root/cust", n = 50, seed = 1L)
    DataGen.writeProductsCsv(spark, s"$root/prod", n = 50, seed = 1L)

    // the reference's WRITE_TRUNCATE shape: reader pins the old listing,
    // refresh deletes its files, the deferred action blows up
    Incremental.loadDims(spark, wh, s"$root/cust", s"$root/prod")
    val pinnedBare = spark.read.parquet(wh.dimCustomers)
    pinnedBare.count() // force the file listing to resolve
    Incremental.loadDims(spark, wh, s"$root/cust", s"$root/prod")
    // fresh action re-reads the now-deleted files behind the pinned plan
    intercept[org.apache.spark.SparkException] {
      pinnedBare.filter($"customer_id".isNotNull).count()
    }

    // the manifest refresh: same double-load, pinned reader survives
    Incremental.loadDimsManifest(spark, wh, s"$root/cust", s"$root/prod")
    val pinnedSnap = graft.io.Manifest.read(spark, Incremental.dimCustomersSnap(wh))
    pinnedSnap.count()
    Incremental.loadDimsManifest(spark, wh, s"$root/cust", s"$root/prod")
    assert(pinnedSnap.filter($"customer_id".isNotNull).count() == 50,
      "pinned reader must survive the refresh")
    assert(graft.io.Manifest.currentVersion(spark,
      Incremental.dimCustomersSnap(wh)).contains(2))
  }

  test("concurrent readers never fail or see a mixed snapshot across commits + vacuums") {
    // The documented concurrency contract (any number of readers vs one
    // maintenance writer) exercised for real: two reader threads loop
    // read()+collect while the writer commits 10 generations and vacuums
    // after each. Every snapshot is internally marked (every row carries
    // its generation), so a torn read — files from two snapshots, or a
    // half-deleted one — shows up as mixed gen values or a wrong count.
    // keep=4 holds each resolved snapshot in the retention window far
    // longer than any single read lasts, per the retention contract.
    val t = tmp()
    val gens = 10
    val rowsPerGen = 200
    Manifest.write((1 to rowsPerGen).map(i => (i.toLong, 0L)).toDF("i", "gen"), t)
    @volatile var writerDone = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val readers = (1 to 2).map { rid =>
      new Thread(() => {
        try {
          while (!writerDone) {
            val rows = Manifest.read(spark, t)
              .select("gen").as[Long].collect()
            if (rows.length != rowsPerGen)
              failures.add(s"reader $rid: ${rows.length} rows (torn count)")
            else if (rows.distinct.length != 1)
              failures.add(s"reader $rid: mixed gens ${rows.distinct.toSeq}")
            reads.incrementAndGet()
          }
        } catch {
          case e: Throwable => failures.add(s"reader $rid threw: $e")
        }
      })
    }
    readers.foreach(_.start())
    try {
      (1 to gens).foreach { g =>
        Manifest.write(
          (1 to rowsPerGen).map(i => (i.toLong, g.toLong)).toDF("i", "gen")
            .repartition(3), t)
        Manifest.vacuum(spark, t, keep = 4)
      }
    } finally {
      writerDone = true
      readers.foreach(_.join(60000))
    }
    assert(failures.isEmpty, s"concurrent read violations: $failures")
    assert(reads.get() > 0, "readers must have actually read during the writes")
    // retention settled: exactly `keep` committed snapshots remain
    assert(Manifest.currentVersion(spark, t).contains(gens + 1))
    val markers = new java.io.File(t).listFiles()
      .count(_.getName.startsWith("_commit-v"))
    assert(markers == 4, s"expected 4 retained markers, got $markers")
  }

  test("concurrent writers serialize onto distinct versions; every " +
    "committed snapshot is whole (no mixed part-files)") {
    // The claim protocol's reason to exist: without it, racing writers
    // compute the same next version and fill the SAME v<N>/ dir — the
    // marker race then publishes a snapshot containing BOTH writers'
    // part-files. Here 4 writers commit 3 generations each concurrently;
    // every committed version must contain exactly ONE writer's rows.
    val t = tmp()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val versions = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val writers = (1 to 4).map { wid =>
      new Thread(() => {
        try {
          (1 to 3).foreach { gen =>
            versions.add(Manifest.write(
              (1 to 50).map(i => (i.toLong, wid.toLong, gen.toLong))
                .toDF("i", "writer", "gen").repartition(3), t))
          }
        } catch { case e: Throwable => errors.add(s"writer $wid: $e") }
      })
    }
    writers.foreach(_.start())
    writers.foreach(_.join(120000))
    assert(errors.isEmpty, s"writer failures: $errors")
    val vs = versions.toArray(Array.empty[Integer]).map(_.toInt).toSeq
    assert(vs.size == 12 && vs.distinct.size == 12,
      s"12 commits must land as 12 distinct versions: $vs")
    // every committed snapshot is internally consistent: one writer, one
    // gen, full row count — no cross-writer part-file mixing
    vs.foreach { v =>
      val rows = Manifest.readVersion(spark, t, v)
        .select("writer", "gen").distinct().collect()
      assert(rows.length == 1,
        s"v$v mixes ${rows.length} (writer, gen) combinations")
      assert(Manifest.readVersion(spark, t, v).count() == 50,
        s"v$v torn row count")
    }
    assert(Manifest.currentVersion(spark, t).contains(vs.max))
  }

  test("append: concurrent appenders CAS-serialize onto one linear " +
    "lineage; no append loses another's rows") {
    val t = tmp()
    assert(Manifest.append(Seq((0L, "seed")).toDF("id", "who"), t) == 1)
    // 4 appenders × 2 generations race; every row must survive into the
    // final snapshot and the history must be gap-free (versions 2..9) —
    // the lost-update scenario plain commit() cannot prevent
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val versions = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val writers = (1 to 4).map { wid =>
      new Thread(() => {
        try {
          (1 to 2).foreach { gen =>
            // a SMALL budget suffices since r16: the count bounds
            // NO-PROGRESS attempts only — every committed winner
            // resets it, so healthy contention never exhausts it
            // (pre-r16 this test needed maxRetries = 200)
            versions.add(Manifest.append(
              Seq((wid * 100L + gen, s"w$wid-g$gen")).toDF("id", "who"),
              t, maxRetries = 8))
          }
        } catch { case e: Throwable => errors.add(s"appender $wid: $e") }
      })
    }
    writers.foreach(_.start())
    writers.foreach(_.join(240000))
    assert(errors.isEmpty, s"appender failures: $errors")
    val vs = versions.toArray(Array.empty[Integer]).map(_.toInt).toSeq.sorted
    assert(vs == (2 to 9), s"appends must form a gap-free lineage: $vs")
    val finalRows = Manifest.read(spark, t).select("who").as[String]
      .collect().toSet
    val want = Set("seed") ++
      (for (w <- 1 to 4; g <- 1 to 2) yield s"w$w-g$g").toSet
    assert(finalRows == want,
      s"every concurrent append's rows must survive: $finalRows")
    // each version strictly extends its predecessor by one appended row
    (2 to 9).foreach { v =>
      assert(Manifest.readVersion(spark, t, v).count() == v.toLong,
        s"v$v must hold exactly $v rows (seed + ${v - 1} appends)")
    }
    // a tagged append records its tag like writeTagged
    Manifest.append(Seq((999L, "tagged")).toDF("id", "who"), t,
      tag = Some("append-tag-1"))
    assert(Manifest.currentTag(spark, t).contains("append-tag-1"))
  }

  test("append: a stale claim (crashed appender, no marker) exhausts " +
    "the bounded retries loudly instead of guessing it dead") {
    val t = tmp()
    Manifest.append(Seq((1L, "a")).toDF("id", "who"), t)
    // simulate a crashed appender holding the next slot
    java.nio.file.Files.createFile(java.nio.file.Paths.get(t, "_claim-v2"))
    val e = intercept[IllegalStateException] {
      Manifest.append(Seq((2L, "b")).toDF("id", "who"), t,
        maxRetries = 2, backoffMs = 5L)
    }
    assert(e.getMessage.contains("_claim-v2"),
      s"the error must name the stale claim: ${e.getMessage}")
    // reclaiming the stale claim unblocks the appender
    java.nio.file.Files.delete(java.nio.file.Paths.get(t, "_claim-v2"))
    assert(Manifest.append(Seq((2L, "b")).toDF("id", "who"), t) == 2)
    assert(Manifest.read(spark, t).count() == 2)
  }

  test("a writer whose claim was vacuumed mid-write aborts loudly and " +
    "commits nothing (claim-lease handshake)") {
    val t = tmp()
    Manifest.write((1L to 5L).toDF("x"), t)
    // writeFn simulates a concurrent vacuum reclaiming this in-flight
    // version: the claim disappears while the writer is still filling
    // the data dir
    val e = intercept[IllegalStateException] {
      Manifest.commit(spark, t) { dir =>
        (1L to 9L).toDF("x").write.parquet(dir)
        assert(new java.io.File(s"$t/_claim-v2").delete())
      }
    }
    assert(e.getMessage.contains("vacuum"), e.getMessage)
    // nothing published, nothing torn: v1 still current, v2 rolled back
    assert(Manifest.currentVersion(spark, t).contains(1))
    assert(!new java.io.File(s"$t/_commit-v2").exists())
    assert(!new java.io.File(s"$t/v2").exists(), "aborted dir rolled back")
    // the table is still writable afterwards; the fully-rolled-back
    // version number is legitimately reusable (no trace of it remains)
    assert(Manifest.write((1L to 3L).toDF("x"), t) == 2)
    assert(Manifest.read(spark, t).count() == 3)
  }

  test("vacuum reclaims dead claim files of crashed writers") {
    val t = tmp()
    Manifest.write((1L to 5L).toDF("x"), t)
    // crashed writer: claimed v2, wrote nothing, died
    new java.io.File(s"$t/_claim-v2").createNewFile()
    // numbering skips the dead claim
    assert(Manifest.write((1L to 2L).toDF("x"), t) == 3)
    Manifest.vacuum(spark, t, keep = 2)
    assert(!new java.io.File(s"$t/_claim-v2").exists(),
      "dead claim below the newest marker must be reclaimed")
    // claims of retained committed versions survive
    assert(new java.io.File(s"$t/_claim-v3").exists())
    assert(Manifest.read(spark, t).count() == 2)
  }

  test("append: a wholesale replace interleaving with an append fails " +
    "LOUDLY via the epoch fence instead of silently shadowing the rows") {
    val t = tmp()
    assert(Manifest.append(Seq((1L, "seed")).toDF("id", "who"), t) == 1)
    // The shadow df's evaluation runs INSIDE append's claim-to-marker
    // window (during next.write.parquet). Its side effect simulates
    // exactly what a concurrent commit() does observably: bump the
    // epoch fence, then land a marker ABOVE the appender's claimed slot
    // (commit's version numbering skips live claims, so it picks v3).
    val tableDir = t
    val shadow = spark.range(1).map { _ =>
      val ep = java.nio.file.Paths.get(tableDir, "_epoch-1")
      val mk = java.nio.file.Paths.get(tableDir, "_commit-v3")
      if (!java.nio.file.Files.exists(ep)) java.nio.file.Files.createFile(ep)
      if (!java.nio.file.Files.exists(mk)) java.nio.file.Files.createFile(mk)
      (2L, "shadowed-append")
    }.toDF("id", "who")
    val e = intercept[IllegalStateException] {
      Manifest.append(shadow, t)
    }
    assert(e.getMessage.contains("epoch moved") && e.getMessage.contains("v2"),
      s"the error must name the fence and the shadowed version: ${e.getMessage}")
    // never silent: the appended rows are preserved on disk for re-append
    val preserved = spark.read.parquet(s"$t/v2").select("who").as[String]
      .collect().toSet
    assert(preserved.contains("shadowed-append"),
      s"the shadowed append's rows must survive in v2 for re-append: $preserved")
  }

  test("a FAILED write releases its claim and leavings: the slot is " +
    "immediately reusable instead of wedged until a vacuum") {
    val t = tmp()
    assert(Manifest.append(Seq((1L, "a")).toDF("id", "who"), t) == 1)
    // an append whose df evaluation throws mid-write (the disk-full /
    // crashing-expression class) must not leave _claim-v2 behind
    val bad = spark.range(1).selectExpr(
      "CAST(raise_error('boom') AS BIGINT) AS id", "'x' AS who")
    intercept[Exception] { Manifest.append(bad, t) }
    assert(!new java.io.File(s"$t/_claim-v2").exists(),
      "a failed append must release its CAS slot")
    assert(!new java.io.File(s"$t/v2").exists(), "and its partial dir")
    // the very next append wins the same slot with no vacuum needed
    assert(Manifest.append(Seq((2L, "b")).toDF("id", "who"), t) == 2)
    assert(Manifest.read(spark, t).count() == 2)
    // same for the wholesale commit path
    intercept[Exception] {
      Manifest.commit(spark, t) { dir => bad.write.parquet(dir) }
    }
    assert(!new java.io.File(s"$t/_claim-v3").exists() &&
      !new java.io.File(s"$t/v3").exists(),
      "a failed commit must release its claim and dir")
    assert(Manifest.write((1L to 3L).toDF("x"), t) == 3)
  }

  test("a FAILED write waits for its straggler tasks before the cleanup, " +
    "so no late task recreates the released version dir") {
    val t = tmp()
    val thrown = Files.createTempDirectory("graft_straggler").resolve("thrown").toString
    // partition 1 fails; partition 0 waits for that failure and only then
    // emits its row, so its part file lands after the job has failed
    val straggling = spark.range(0, 2, 1, 2).map { i =>
      val signal = java.nio.file.Paths.get(thrown)
      if (i == 1L) {
        Files.createFile(signal)
        throw new IllegalStateException("boom")
      }
      while (!Files.exists(signal)) Thread.sleep(5)
      Thread.sleep(300)
      i
    }.toDF("x")
    intercept[Exception] {
      Manifest.commit(spark, t) { dir => straggling.write.parquet(dir) }
    }
    // well past the straggler's write: the released slot must stay empty
    Thread.sleep(1500)
    assert(!new java.io.File(s"$t/v1").exists(),
      "a task of the failed write recreated the released version dir")
    assert(Manifest.write((1L to 3L).toDF("x"), t) == 1)
  }

  test("vacuum reclaims AGED stale claims above the newest marker " +
    "(the wedged-append remediation) and spares fresh in-flight ones") {
    val t = tmp()
    assert(Manifest.append(Seq((1L, "a")).toDF("id", "who"), t) == 1)
    // crashed appender: stale claim at the base+1 CAS slot, plus a
    // half-written data dir — wedges every future append
    java.nio.file.Files.createFile(java.nio.file.Paths.get(t, "_claim-v2"))
    (9L to 9L).toDF("x").write.parquet(s"$t/v2")
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(t, "_claim-v2"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600L * 1000))
    // a FRESH claim above (a live in-flight writer) must be spared
    java.nio.file.Files.createFile(java.nio.file.Paths.get(t, "_claim-v4"))
    Manifest.vacuum(spark, t, keep = 2, claimTtlMs = 60L * 1000)
    assert(!new java.io.File(s"$t/_claim-v2").exists(),
      "aged stale claim above the newest marker must be reclaimed")
    assert(!new java.io.File(s"$t/v2").exists(),
      "the crashed writer's uncommitted dir goes with its claim")
    assert(new java.io.File(s"$t/_claim-v4").exists(),
      "a fresh (in-TTL) claim is an in-flight writer: spared")
    // the documented remediation actually unwedges the table now
    assert(Manifest.append(Seq((2L, "b")).toDF("id", "who"), t) == 2)
    assert(Manifest.read(spark, t).count() == 2)
  }

  test("replace bumps the epoch fence; vacuum trims all but the newest") {
    val t = tmp()
    assert(Manifest.currentEpoch(spark, t) == 0)
    Manifest.write((1L to 2L).toDF("x"), t)
    Manifest.write((1L to 3L).toDF("x"), t)
    Manifest.write((1L to 4L).toDF("x"), t)
    assert(Manifest.currentEpoch(spark, t) == 3)
    // appends do NOT move the epoch (successor appends are legitimate)
    Manifest.append((9L to 9L).toDF("x"), t)
    assert(Manifest.currentEpoch(spark, t) == 3)
    Manifest.vacuum(spark, t, keep = 2)
    assert(!new java.io.File(s"$t/_epoch-1").exists() &&
      !new java.io.File(s"$t/_epoch-2").exists(),
      "only the newest epoch fence file carries information")
    assert(Manifest.currentEpoch(spark, t) == 3)
  }

  test("vacuum reclaims dead crashed-writer dirs, spares in-flight ones, no-ops on missing") {
    val t = tmp()
    Manifest.vacuum(spark, t) // never-written table: no-op, no throw
    Manifest.write((1L to 5L).toDF("x"), t)
    // crashed writer at v2 (no marker), then a successful v3 commit
    (9L to 9L).toDF("x").write.parquet(s"$t/v2")
    Manifest.write((1L to 2L).toDF("x"), t)
    // crashed-looking dir ABOVE the newest marker = in-flight: keep it
    (8L to 8L).toDF("x").write.parquet(s"$t/v9")
    Manifest.vacuum(spark, t, keep = 2)
    assert(!new java.io.File(s"$t/v2").exists(), "dead uncommitted dir must be reclaimed")
    assert(new java.io.File(s"$t/v9").exists(), "in-flight dir must be spared")
    assert(new java.io.File(s"$t/v1").exists() && new java.io.File(s"$t/v3").exists())
    assert(Manifest.read(spark, t).count() == 2)
  }
}
