package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sinks.MergeByKey

class MergeByKeySpec extends SparkSpec {
  import spark.implicits._

  test("merge: incoming wins per column where non-null, rows union by key") {
    val existing = Seq(("A", Some(1.0), Some("x")), ("B", Some(2.0), Some("y")))
      .toDF("k", "v", "s")
    val incoming = Seq(("B", Some(20.0), Option.empty[String]), ("C", Some(3.0), Some("z")))
      .toDF("k", "v", "s")
    val out = MergeByKey.merge(existing, incoming, "k").rowsSet
    assert(out == Set(
      Seq("A", 1.0, "x"),
      Seq("B", 20.0, "y"),   // v overwritten, s kept (incoming null)
      Seq("C", 3.0, "z")))
  }

  test("merge: incoming-only columns appear; overwriteColumns restricts updates") {
    val existing = Seq(("A", 1.0, "keep")).toDF("k", "v", "s")
    val incoming = Seq(("A", 9.0, "new", 42L)).toDF("k", "v", "s", "extra")
    val out = MergeByKey.merge(existing, incoming, "k",
      overwriteColumns = Some(Seq("v", "extra"))).rowsSet
    // s NOT in overwriteColumns -> existing value kept
    assert(out == Set(Seq("A", 9.0, "keep", 42L)))
  }

  test("upsert to versioned store: create then merge, manifest resolves") {
    val dir = Files.createTempDirectory("graft_merge").toString + "/t"
    val first = Seq(("A", 1.0), ("B", 2.0)).toDF("k", "v")
    MergeByKey.upsert(spark, first, dir, "k")
    assert(MergeByKey.committedVersion(spark, dir) === Some(0L))
    val second = Seq(("B", 20.0), ("C", 3.0)).toDF("k", "v")
    MergeByKey.upsert(spark, second, dir, "k")
    assert(MergeByKey.committedVersion(spark, dir) === Some(1L))
    val out = MergeByKey.readCommitted(spark, dir).rowsSet
    assert(out == Set(Seq("A", 1.0), Seq("B", 20.0), Seq("C", 3.0)))
  }

  test("overwrite: truncate-and-load") {
    val dir = Files.createTempDirectory("graft_ovw").toString + "/t"
    MergeByKey.overwrite(Seq(("A", 1)).toDF("k", "v"), dir)
    MergeByKey.overwrite(Seq(("B", 2)).toDF("k", "v"), dir)
    assert(MergeByKey.readCommitted(spark, dir).rowsSet == Set(Seq("B", 2)))
  }

  test("snapshot isolation: a reader's resolved snapshot survives a " +
    "concurrent merge commit (r15 verdict #5)") {
    val dir = Files.createTempDirectory("graft_snap").toString + "/t"
    MergeByKey.upsert(spark, Seq(("A", 1.0)).toDF("k", "v"), dir, "k")
    // reader resolves the manifest NOW (v=0) and holds the plan lazily
    val snapshot = MergeByKey.readCommitted(spark, dir)
    // two writers commit v=1 and v=2 under the reader; retain=2 keeps
    // v=1, deletes v=0 only at the v=2 commit — so materialize after
    // ONE commit (the documented one-merge-cycle slack), then again
    // to show the snapshot is stable across repeated actions
    MergeByKey.upsert(spark, Seq(("B", 2.0)).toDF("k", "v"), dir, "k")
    assert(snapshot.rowsSet == Set(Seq("A", 1.0)),
      "reader mid-cycle must still see its resolved version")
    assert(snapshot.rowsSet == Set(Seq("A", 1.0)), "re-read is stable")
    // a FRESH resolution sees the new commit
    assert(MergeByKey.readCommitted(spark, dir).rowsSet ==
      Set(Seq("A", 1.0), Seq("B", 2.0)))
  }

  test("pinned snapshot: a commit between two reads is visible to the " +
    "second read, and a GC'd version stays unreadable by name") {
    val dir = Files.createTempDirectory("graft_pin").toString + "/t"
    MergeByKey.upsert(spark, Seq(("A", 1.0)).toDF("k", "v"), dir, "k")
    val first = MergeByKey.readCommitted(spark, dir)
    assert(first.rowsSet == Set(Seq("A", 1.0)))
    assert(MergeByKey.readCommitted(spark, dir).rowsSet == Set(Seq("A", 1.0)))
    MergeByKey.upsert(spark, Seq(("B", 2.0)).toDF("k", "v"), dir, "k")
    assert(MergeByKey.readCommitted(spark, dir).rowsSet ==
      Set(Seq("A", 1.0), Seq("B", 2.0)))
    assert(first.rowsSet == Set(Seq("A", 1.0)), "the earlier snapshot holds")
    // v=0 was pinned by the reads above; the next commit GCs it
    MergeByKey.upsert(spark, Seq(("C", 3.0)).toDF("k", "v"), dir, "k")
    val evicted = intercept[IllegalStateException] {
      MergeByKey.readVersion(spark, dir, 0L)
    }
    assert(evicted.getMessage.contains("retain window"), evicted.getMessage)
    assert(MergeByKey.readCommitted(spark, dir).count() == 3)
  }

  test("pinned snapshot: a store deleted and recreated at the same path " +
    "reads the new rows at the same version number") {
    val dir = Files.createTempDirectory("graft_pin_recreate").toString + "/t"
    MergeByKey.upsert(spark, Seq(("A", 1.0)).toDF("k", "v"), dir, "k")
    assert(MergeByKey.readCommitted(spark, dir).rowsSet == Set(Seq("A", 1.0)))
    val root = new org.apache.hadoop.fs.Path(dir)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(root, true)
    MergeByKey.upsert(spark, Seq(("Z", 9.0)).toDF("k", "v"), dir, "k")
    assert(MergeByKey.committedVersion(spark, dir) === Some(0L))
    assert(MergeByKey.readCommitted(spark, dir).rowsSet == Set(Seq("Z", 9.0)))
  }

  test("pinned snapshot: a commit drops every pin of its path, whichever " +
    "session read it") {
    val dir = Files.createTempDirectory("graft_pin_drop").toString + "/t"
    val other = spark.newSession()
    MergeByKey.upsert(spark, Seq(("A", 1.0)).toDF("k", "v"), dir, "k")
    MergeByKey.readCommitted(spark, dir)
    MergeByKey.readCommitted(other, dir)
    assert(MergeByKey.pinnedVersion(spark, dir) === Some(0L))
    assert(MergeByKey.pinnedVersion(other, dir) === Some(0L))
    MergeByKey.upsert(other, other.createDataFrame(Seq(("B", 2.0))).toDF("k", "v"),
      dir, "k")
    assert(MergeByKey.pinnedVersion(spark, dir) === None)
    // the writer's own session is pinned to what it just committed
    assert(MergeByKey.pinnedVersion(other, dir) === Some(1L))
    assert(MergeByKey.readCommitted(spark, dir).rowsSet ==
      Set(Seq("A", 1.0), Seq("B", 2.0)))
    assert(MergeByKey.pinnedVersion(spark, dir) === Some(1L))
  }

  test("pinned snapshot: two threads reading and responding over one pin " +
    "both get correct envelopes") {
    import graft.serve.Screeners
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = Files.createTempDirectory("graft_pin_serve").toString + "/t"
    val rows = (1 to 30).map(i => (f"S$i%02d",
      if (i % 2 == 0) "Large Cap" else "Small Cap", i.toDouble, (31 - i).toDouble))
    MergeByKey.upsert(spark, rows.toDF("symbol", "market_cap_category",
      "composite_score", "fundamental_score"), dir, "symbol")
    def body(name: String) =
      Screeners.respond(spark, name, MergeByKey.readCommitted(spark, dir))
        .replaceAll("\"timestamp\":\"[^\"]*\"", "")
    val expected = Seq("btst", "position").map(n => n -> body(n)).toMap
    assert(expected("btst").contains("\"count\":20,") &&
      expected("btst").contains("\"symbol\":\"S30\""), expected("btst"))
    assert(expected("position").contains("\"symbol\":\"S01\""))
    val clients = Seq("btst", "position").map { n =>
      Future((1 to 4).map(_ => body(n)))
    }
    clients.zip(Seq("btst", "position")).foreach { case (f, n) =>
      assert(Await.result(f, 120.seconds).forall(_ == expected(n)), n)
    }
  }

  test("pinned snapshot: four threads of mixed screener requests over one " +
    "pin each get the single-threaded envelope, byte for byte") {
    import graft.serve.Screeners
    val dir = Files.createTempDirectory("graft_pin_serve4").toString + "/t"
    val bands = Seq("Large Cap", "Mid Cap", "Small Cap", "Micro Cap")
    // stock_rankings-shaped rows, wide enough that emitting a reply is
    // more than a few microseconds of JSON writing
    val rows = (1 to 200).map(i => (f"SYM$i%05d", bands(i % 4),
      s"Sector ${i % 20}", s"Industry \"${i % 119}\"", i * 1.25, (i % 41) / 8.0 - 2.5,
      i * 1000L + 7, if (i % 17 == 0) None else Some((i * 37 % 101).toDouble / 4),
      if (i % 13 == 0) None else Some((i * 53 % 97).toDouble / 8)))
    MergeByKey.upsert(spark, rows.toDF("symbol", "market_cap_category",
      "sector", "industry", "close", "change_pct", "volume",
      "composite_score", "fundamental_score"), dir, "symbol")
    val names = Seq("btst", "swing", "position")
    def body(name: String) =
      Screeners.respond(spark, name, MergeByKey.readCommitted(spark, dir))
        .replaceAll("\"timestamp\":\"[^\"]*\"", "")
    val expected = names.map(n => n -> body(n)).toMap
    names.foreach(n => assert(expected(n).contains("\"count\":20,"), expected(n)))
    // lockstep: at each step every thread sends the same screener at once,
    // so replies of one screener are emitted concurrently as often as can be
    val (clients, perThread) = (4, 150)
    val step = new java.util.concurrent.CyclicBarrier(clients)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        try (0 until perThread).foreach { k =>
          val n = names(k % names.size)
          step.await(120, java.util.concurrent.TimeUnit.SECONDS)
          got.add(n -> body(n))
        } catch { case e: Throwable => failures.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(failures.isEmpty, failures)
    assert(got.size == clients * perThread)
    val wrong = got.toArray(Array.empty[(String, String)]).toSeq
      .filterNot { case (n, reply) => reply == expected(n) }
    assert(wrong.isEmpty, s"${wrong.size} replies differ, e.g. ${wrong.headOption}")
  }

  test("retention: versions older than the previous are GC'd") {
    val dir = Files.createTempDirectory("graft_gc").toString + "/t"
    MergeByKey.upsert(spark, Seq(("A", 1.0)).toDF("k", "v"), dir, "k")
    MergeByKey.upsert(spark, Seq(("B", 2.0)).toDF("k", "v"), dir, "k")
    MergeByKey.upsert(spark, Seq(("C", 3.0)).toDF("k", "v"), dir, "k")
    val versions = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("v=")).map(_.getName).sorted
    assert(versions.toSeq == Seq("v=1", "v=2"),
      "retain=2: committed + previous only")
    assert(MergeByKey.readCommitted(spark, dir).rowsSet ==
      Set(Seq("A", 1.0), Seq("B", 2.0), Seq("C", 3.0)))
  }

  test("gc never deletes foreign content it cannot positively identify") {
    val dir = Files.createTempDirectory("graft_gc_foreign").toString + "/t"
    MergeByKey.upsert(spark, Seq(("A", 1.0)).toDF("k", "v"), dir, "k")
    // a foreign file and dir that this sink did not write
    val notes = new java.io.File(dir, "notes")
    notes.mkdirs()
    Files.writeString(notes.toPath.resolve("readme.txt"), "keep me")
    Files.writeString(new java.io.File(dir, "owner.txt").toPath, "keep")
    MergeByKey.upsert(spark, Seq(("B", 2.0)).toDF("k", "v"), dir, "k")
    MergeByKey.upsert(spark, Seq(("C", 3.0)).toDF("k", "v"), dir, "k")
    MergeByKey.upsert(spark, Seq(("D", 4.0)).toDF("k", "v"), dir, "k")
    assert(new java.io.File(dir, "notes/readme.txt").exists(),
      "foreign dir must survive every gc cycle")
    assert(new java.io.File(dir, "owner.txt").exists(),
      "foreign file must survive every gc cycle")
    assert(MergeByKey.readCommitted(spark, dir).count() == 4)
  }

  test("manifest robustness: multi-digit versions read to EOF; corrupt " +
    "manifests fail loudly instead of resolving a wrong snapshot") {
    val dir = Files.createTempDirectory("graft_manifest").toString + "/t"
    MergeByKey.upsert(spark, Seq(("A", 1.0)).toDF("k", "v"), dir, "k")
    // hand-flip to a multi-digit version: the read must return ALL
    // digits (a short read of '1234567890' as '1' would silently
    // resolve an older snapshot). Drop the local-FS checksum sidecar
    // first — hand-editing the file invalidates it.
    def handWrite(content: String): Unit = {
      new java.io.File(dir, "._manifest.crc").delete()
      Files.writeString(new java.io.File(dir, "_manifest").toPath, content)
    }
    handWrite("1234567890\n")
    assert(MergeByKey.committedVersion(spark, dir) === Some(1234567890L))
    handWrite("")
    val eEmpty = intercept[IllegalStateException] {
      MergeByKey.committedVersion(spark, dir)
    }
    assert(eEmpty.getMessage.contains("corrupt manifest"))
    // writers only write versions >= 0 as plain digits: a sign or an
    // inner separator is corruption, not a NumberFormatException or v=-3
    Seq("vNaN", "1-2", "-3").foreach { bad =>
      handWrite(bad)
      val eBad = intercept[IllegalStateException] {
        MergeByKey.committedVersion(spark, dir)
      }
      assert(eBad.getMessage.contains("corrupt manifest"), s"'$bad': $eBad")
    }
  }

  test("CAS: two racing writers — exactly one wins each version claim, " +
    "the loser retries against the winner's snapshot, nothing orphaned") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = Files.createTempDirectory("graft_cas").toString + "/t"
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def writer(k: String, v: Double) = Future {
      val df = Seq((k, v)).toDF("k", "v")
      barrier.await()
      MergeByKey.upsert(spark, df, dir, "k")
    }
    val (sa, sb) = (writer("A", 1.0), writer("B", 2.0))
    Await.result(sa, 120.seconds)
    Await.result(sb, 120.seconds)
    // both rows landed: the loser re-merged against the winner's commit
    assert(MergeByKey.readCommitted(spark, dir).rowsSet ==
      Set(Seq("A", 1.0), Seq("B", 2.0)))
    // versions serialized: v=0 (winner) then v=1 (retried loser)
    assert(MergeByKey.committedVersion(spark, dir) === Some(1L))
    val entries = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(entries.filter(_.startsWith("v=")) == Set("v=0", "v=1"))
    assert(!entries.exists(_.startsWith(".stage-")),
      "losing writers must clean up their staging dirs")
  }

  test("manifest never flips backward: a stale CAS claim that would " +
    "roll committed v=N back to v<N is refused (r17 ADVICE, high)") {
    val dir = Files.createTempDirectory("graft_backflip").toString + "/t"
    MergeByKey.upsert(spark, Seq(("A", 1.0)).toDF("k", "v"), dir, "k")
    MergeByKey.upsert(spark, Seq(("B", 2.0)).toDF("k", "v"), dir, "k")
    MergeByKey.upsert(spark, Seq(("C", 3.0)).toDF("k", "v"), dir, "k")
    assert(MergeByKey.committedVersion(spark, dir) === Some(2L))
    // a stale writer that somehow reached the flip with an old claim
    // must be stopped by the backstop guard, leaving the manifest at 2
    val e = intercept[IllegalStateException] {
      MergeByKey.commitManifest(spark, dir, 1L)
    }
    assert(e.getMessage.contains("backward"))
    assert(MergeByKey.committedVersion(spark, dir) === Some(2L))
    // equal version is also a refusal (re-flip of the same slot)
    intercept[IllegalStateException] {
      MergeByKey.commitManifest(spark, dir, 2L)
    }
    // forward flips still work
    MergeByKey.upsert(spark, Seq(("D", 4.0)).toDF("k", "v"), dir, "k")
    assert(MergeByKey.committedVersion(spark, dir) === Some(3L))
  }

  test("gc skips foreign v=<non-numeric> entries instead of failing " +
    "every later commit (r17 ADVICE, low)") {
    val dir = Files.createTempDirectory("graft_vx").toString + "/t"
    MergeByKey.upsert(spark, Seq(("A", 1.0)).toDF("k", "v"), dir, "k")
    // foreign content whose name collides with the version layout
    val foreign = new java.io.File(dir, "v=x")
    foreign.mkdirs()
    Files.writeString(new java.io.File(foreign, "keep.txt").toPath, "theirs")
    // enough commits that gc actually runs past the retain window
    (2 to 5).foreach { i =>
      MergeByKey.upsert(spark, Seq((s"K$i", i.toDouble)).toDF("k", "v"), dir, "k")
    }
    assert(MergeByKey.committedVersion(spark, dir) === Some(4L))
    assert(new java.io.File(foreign, "keep.txt").exists(),
      "foreign v=x content must never be touched")
  }

  test("time travel: readVersion resolves any live historical snapshot; " +
    "evicted and future versions fail loudly with the live range") {
    val dir = Files.createTempDirectory("graft_tt").toString + "/t"
    MergeByKey.upsert(spark, Seq(("A", 1.0)).toDF("k", "v"), dir, "k")
    MergeByKey.upsert(spark, Seq(("A", 2.0)).toDF("k", "v"), dir, "k")
    MergeByKey.upsert(spark, Seq(("A", 3.0)).toDF("k", "v"), dir, "k")
    // head is v=2; v=1 is within the retain window, v=0 was GC'd
    assert(MergeByKey.readVersion(spark, dir, 1L).rowsSet ==
      Set(Seq("A", 2.0)))
    assert(MergeByKey.readVersion(spark, dir, 2L).rowsSet ==
      MergeByKey.readCommitted(spark, dir).rowsSet)
    val evicted = intercept[IllegalStateException] {
      MergeByKey.readVersion(spark, dir, 0L)
    }
    assert(evicted.getMessage.contains("live committed versions"))
    val future = intercept[IllegalStateException] {
      MergeByKey.readVersion(spark, dir, 99L)
    }
    assert(future.getMessage.contains("committed head is v=2"))
  }

  test("retention contract: retain sizes reader slack across commits, " +
    "eviction fails with the NAMED retain-window error, and a version " +
    "dir without a commit record is never served as history") {
    val dir = Files.createTempDirectory("graft_retain").toString + "/t"
    MergeByKey.upsert(spark, Seq(("A", 1.0)).toDF("k", "v"), dir, "k")
    // a reader pinned to v=0 resolves it while one further commit lands
    MergeByKey.upsert(spark, Seq(("A", 2.0)).toDF("k", "v"), dir, "k")
    assert(MergeByKey.readVersion(spark, dir, 0L).rowsSet ==
      Set(Seq("A", 1.0)), "retain=2 must keep v=0 across one commit")
    // further commits evict everything behind head-1; the pinned
    // reader's next resolve is the named error
    (3 to 6).foreach { i =>
      MergeByKey.upsert(spark, Seq(("A", i.toDouble)).toDF("k", "v"),
        dir, "k")
    }
    assert(MergeByKey.committedVersion(spark, dir) === Some(5L))
    val evicted = intercept[IllegalStateException] {
      MergeByKey.readVersion(spark, dir, 0L)
    }
    assert(evicted.getMessage.contains("retain window"),
      s"eviction must surface the retain-window contract: $evicted")
    // stale-claim defense (r18 ADVICE, medium): a v=K dir BEHIND the
    // head with no commit record is exactly what a stale writer's won-
    // then-rechecked claim looks like mid-flight — it must read as
    // "not history", never as data
    val fake = new java.io.File(dir, "v=1")
    fake.mkdirs()
    Seq(("A", 999.0)).toDF("k", "v").write.mode("overwrite")
      .parquet(fake.toString)
    val stale = intercept[IllegalStateException] {
      MergeByKey.readVersion(spark, dir, 1L)
    }
    assert(stale.getMessage.contains("uncommitted stale claim"),
      s"a recordless v= dir must be rejected by name: $stale")
    // the retained committed sibling (v=4, within retain=2 of head=5)
    // still resolves — the record requirement rejects only impostors
    assert(MergeByKey.readVersion(spark, dir, 4L).rowsSet ==
      Set(Seq("A", 5.0)))
  }

  test("diffVersions: keyed CDC between committed snapshots — added / " +
    "changed / unchanged across an upsert, removed across an overwrite") {
    val dir = Files.createTempDirectory("graft_diff").toString + "/t"
    MergeByKey.upsert(spark,
      Seq(("A", 1.0), ("B", 2.0)).toDF("k", "v"), dir, "k")
    MergeByKey.upsert(spark,
      Seq(("B", 20.0), ("C", 3.0)).toDF("k", "v"), dir, "k")
    assert(MergeByKey.diffVersions(spark, dir, "k", 0L, 1L).rowsSet ==
      Set(Seq("A", "unchanged"), Seq("B", "changed"), Seq("C", "added")))
    // overwrite CAN drop keys — the diff must label them removed
    MergeByKey.overwrite(Seq(("B", 20.0)).toDF("k", "v"), dir)
    assert(MergeByKey.diffVersions(spark, dir, "k", 1L, 2L).rowsSet ==
      Set(Seq("A", "removed"), Seq("B", "unchanged"), Seq("C", "removed")))
    // a null-safe compare: null -> value and value -> null are changes
    val dir2 = Files.createTempDirectory("graft_diff2").toString + "/t"
    MergeByKey.overwrite(
      Seq(("A", Option.empty[Double]), ("B", Some(1.0))).toDF("k", "v"), dir2)
    MergeByKey.overwrite(
      Seq(("A", Some(2.0)), ("B", Option.empty[Double])).toDF("k", "v"), dir2)
    assert(MergeByKey.diffVersions(spark, dir2, "k", 0L, 1L).rowsSet ==
      Set(Seq("A", "changed"), Seq("B", "changed")))
  }

  test("unversioned path with parquet content: upsert and overwrite refuse") {
    val dir = Files.createTempDirectory("graft_unversioned").toString + "/t"
    new java.io.File(dir).mkdirs()
    // parquet output this sink did not write: committing over it would
    // hide it behind the first manifest
    val part = new java.io.File(dir, "part-00000.parquet")
    Files.write(part.toPath, "not parquet at all".getBytes("UTF-8"))
    val df = Seq(("A", 1.0)).toDF("k", "v")
    val eUpsert = intercept[IllegalStateException] {
      MergeByKey.upsert(spark, df, dir, "k")
    }
    val eOverwrite = intercept[IllegalStateException] {
      MergeByKey.overwrite(df, dir)
    }
    Seq(eUpsert, eOverwrite).foreach { e =>
      assert(e.getMessage.contains("is not a versioned store") &&
        e.getMessage.contains("part-00000.parquet"), e.getMessage)
    }
    // nothing was committed or staged: the path is exactly as found
    assert(MergeByKey.committedVersion(spark, dir) === None)
    assert(new java.io.File(dir).list().toSeq == Seq("part-00000.parquet"))
  }

  test("readCommitted on a path with no manifest fails by name") {
    val dir = Files.createTempDirectory("graft_nomanifest").toString + "/t"
    Seq(("A", 1.0)).toDF("k", "v").write.parquet(dir)
    val e = intercept[IllegalStateException] {
      MergeByKey.readCommitted(spark, dir)
    }
    assert(e.getMessage.contains("is not a versioned store"), e.getMessage)
  }
}
