package graft

import graft.core.{EventData, EventLog}
import graft.operators.{DedupState, FuzzyJoin, IvfIndex, OpqModel, SearchIndex}
import graft.storage.ParquetLogBackend
import graft.util.{ArtifactCache, Publish}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Crash images of every store that publishes through [[Publish]]: a copy
  * of the store's directory is taken after each publish step, as a crash
  * right there would leave it, and each copy is reopened through the
  * store's normal open or load path. Every image must come back as the
  * old state or the new one — never torn, never empty. The copies test
  * rename order and roll-back; data a power loss drops from the page
  * cache is out of their reach. */
class PublishCrashSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def tmp(tag: String): Path = Files.createTempDirectory(s"crash-$tag")

  private def copyTree(from: Path, to: Path, keep: Path => Boolean): Unit = {
    val top = scala.util.Using.resource(Files.list(from))(
      _.iterator().asScala.filter(keep).toList)
    top.foreach { t =>
      val all = scala.util.Using.resource(Files.walk(t))(_.iterator().asScala.toList)
      all.foreach { p =>
        val q = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(q)
        else Files.copy(p, q)
      }
    }
  }

  /** Runs `op`, copying the top-level entries of `root` that `keep`
    * accepts into a fresh image directory after every publish step;
    * returns (step, image) in order. */
  private def imaging(root: Path, keep: Path => Boolean = _ => true)(
      op: => Unit): Seq[(String, Path)] = {
    val images = ArrayBuffer.empty[(String, Path)]
    Publish.onStep = (step, _) => {
      val img = tmp(s"img-$step")
      copyTree(root, img, keep)
      images += (step -> img)
    }
    try op finally Publish.onStep = (_, _) => ()
    images.toSeq
  }

  private def withTmpdir[T](d: Path)(body: => T): T = {
    val saved = System.getProperty("java.io.tmpdir")
    System.setProperty("java.io.tmpdir", d.toString)
    try body finally System.setProperty("java.io.tmpdir", saved)
  }

  private def vectors(n: Int, seed: Long) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(4)(rnd.nextGaussian()).toSeq))
      .toDF("vec_id", "v")
  }

  test("claim never replaces a published target; a lost race drops its stage") {
    val root = tmp("claim")
    val file = root.resolve("f")
    Files.write(file, "winner".getBytes("UTF-8"))
    val stage = Files.write(root.resolve("f.stage"), "loser".getBytes("UTF-8"))
    assert(!Publish.claim(stage, file))
    assert(new String(Files.readAllBytes(file), "UTF-8") == "winner")
    assert(!Files.exists(stage))
    val dir = Files.createDirectories(root.resolve("d"))
    Files.write(dir.resolve("x"), Array[Byte](1))
    val stageDir = Files.createDirectories(root.resolve("d.stage"))
    Files.write(stageDir.resolve("y"), Array[Byte](2))
    assert(!Publish.claim(stageDir, dir))
    assert(Files.exists(dir.resolve("x")) && !Files.exists(dir.resolve("y")))
    assert(!Files.exists(stageDir))
    val fresh = Files.write(root.resolve("g.stage"), Array[Byte](3))
    assert(Publish.claim(fresh, root.resolve("g")))
    assert(Files.exists(root.resolve("g")) && !Files.exists(fresh))
  }

  test("log images of compaction, rotation and coalescing reopen to every acknowledged commit") {
    val dir = tmp("log")
    val b = ParquetLogBackend.create(spark, dir.toString,
      compactThreshold = 1 << 20, compactIntervalMs = 0)
    val images = ArrayBuffer.empty[(String, Path, Long)]
    def batch(i: Int) = (0 until 40).map(j =>
      EventData(s"l$i", s"""{"i":$i,"j":$j,"p":"${"x" * (j % 7)}"}"""))
    def commit(i: Int): Unit = b.appendMulti(batch(i))
    def phase(op: => Unit): Unit = {
      val acked = b.readRange(1L, Long.MaxValue).length.toLong
      imaging(dir)(op).foreach { case (s, p) => images += ((s, p, acked)) }
    }
    try {
      (0 until 3).foreach(commit)
      phase(b.compact())
      (3 until 5).foreach(commit)
      phase(b.compact())
      commit(5) // a tail that stays in the commit log through coalescing
      phase(b.coalesceSegments())
      val all = b.readRange(1L, Long.MaxValue)
      assert(all.length == 240)
      // compaction: claim + replace (3 steps each), twice; coalescing: a
      // claim per rewritten file, then the 5 steps of the swap
      assert(images.count(_._1 == "retired") == 1)
      assert(images.count(_._1 == "cleaned") == 1)
      images.foreach { case (step, img, acked) =>
        val ob = ParquetLogBackend.open(spark, img.toString, compactIntervalMs = 0)
        try {
          val got = ob.readRange(1L, Long.MaxValue)
          assert(got == all.take(acked.toInt), s"image at $step")
          assert(new EventLog(ob).checkIntegrity().count() == 0L, s"image at $step")
        } finally ob.close()
      }
    } finally b.close()
  }

  test("IVF images of a cell compaction and a generation swap load one whole generation") {
    val root = tmp("ivf")
    val idx = root.resolve("idx").toString
    IvfIndex.build(vectors(200, 7), k = 4).save(idx)
    def ids(dir: String): Set[Long] =
      IvfIndex.load(spark, dir).assignments.select("vec_id").collect()
        .map(_.getLong(0)).toSet
    val before = (0L until 200L).toSet
    val after = before -- (0L until 10L)
    val compacted = imaging(root)(IvfIndex.compact(spark, idx))
    val removed = imaging(root)(IvfIndex.removeVectors(spark, idx, 0L until 10L))
    assert(ids(idx) == after)
    assert(compacted.map(_._1) == Seq("staged", "retired", "renamed", "synced", "cleaned"))
    assert(removed.map(_._1) == compacted.map(_._1))
    (compacted.map(_ -> Set(before)) ++ removed.map(_ -> Set(before, after)))
      .foreach { case ((step, img), allowed) =>
        val dir = img.resolve("idx").toString
        assert(allowed(ids(dir)), s"read path, image at $step")
        // the maintenance path rolls a torn swap back before it works
        if (step == "retired") {
          IvfIndex.compact(spark, dir)
          assert(allowed(ids(dir)), s"recovered image at $step")
          assert(!Files.exists(Paths.get(dir + ".old")))
        }
      }
  }

  test("search-index images of an append load the old or the new batch set") {
    val s = spark
    import s.implicits._
    val root = tmp("search")
    val dir = root.resolve("si").toString
    def docs(r: Range) = r.map(i => (i.toLong, s"w$i common words here")).toDF("doc_id", "text")
    SearchIndex.build(docs(0 until 20)).save(dir)
    val images = imaging(root)(SearchIndex.appendDocs(spark, dir, docs(20 until 30)))
    assert(images.map(_._1) == Seq("staged", "renamed", "synced"))
    images.foreach { case (step, img) =>
      val idx = SearchIndex.load(spark, img.resolve("si").toString)
      assert(Set(20L, 30L)(idx.nDocs), s"image at $step")
      assert(idx.postings.select("doc_id").distinct().count() == idx.nDocs,
        s"image at $step")
    }
  }

  test("dedup-state images of an admit load manifest v0 or a whole v1") {
    val s = spark
    import s.implicits._
    val root = tmp("dedup")
    val dir = root.resolve("state").toString
    // disjoint vocabularies: no document near-duplicates another
    val batch = (0 until 6).map(i =>
      (i.toLong, (0 until 12).map(j => s"d${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val images = imaging(root)(DedupState.admit(spark, dir, batch, "drop-1"))
    // the delta's promote, then the manifest commit
    assert(images.map(_._1) == Seq.fill(2)(Seq("staged", "renamed", "synced")).flatten)
    images.foreach { case (step, img) =>
      val h = DedupState.load(img.resolve("state").toString)
      assert(h.version <= 1L, s"image at $step")
      if (h.version == 1L)
        assert(DedupState.rows(spark, h).count() == h.nDocs && h.nDocs == 6L,
          s"image at $step")
    }
  }

  test("versioned-artifact images list only whole versions") {
    val root = tmp("opq")
    val dir = root.resolve("opq").toString
    val r = Array.tabulate(16)(i => if (i % 5 == 0) 1.0 else 0.0)
    val images = imaging(root)(OpqModel.save(spark, r, dir, Some("fp-1")))
    assert(images.map(_._1) == Seq("staged", "renamed", "synced"))
    images.foreach { case (step, img) =>
      val d = img.resolve("opq").toString
      OpqModel.versions(d) match {
        case Seq() => assert(step == "staged")
        case Seq(1L) =>
          assert(OpqModel.load(spark, d).toSeq == r.toSeq, s"image at $step")
          assert(OpqModel.fingerprintOf(d, 1L).contains("fp-1"))
        case vs => fail(s"image at $step lists versions $vs")
      }
    }
  }

  test("artifact-cache images: a ready marker only ever sits on a whole artifact") {
    val root = tmp("cache")
    val src = Files.write(root.resolve("src.txt"), "corpus".getBytes("UTF-8"))
    val kind = ArtifactCache.Kind("graft-crashcache", "ready", version = 1)
    def build(staging: String): Unit = {
      Files.createDirectories(Paths.get(staging, "part"))
      Files.write(Paths.get(staging, "part", "a"), Array.fill[Byte](64)(1))
      Files.write(Paths.get(staging, "ready"), Array.emptyByteArray)
    }
    def whole(dir: String): Boolean =
      Files.size(Paths.get(dir, "part", "a")) == 64L &&
        Files.exists(Paths.get(dir, "ready"))
    val images = withTmpdir(root) {
      imaging(root, _.getFileName.toString.startsWith(kind.prefix)) {
        ArtifactCache.ensure(src, kind)(build)
      }
    }
    assert(images.map(_._1) == Seq("staged", "renamed", "synced"))
    images.foreach { case (step, img) =>
      var built = false
      val out = withTmpdir(img)(ArtifactCache.ensure(src, kind) { st =>
        built = true; build(st)
      })
      assert(whole(out), s"image at $step")
      assert(built == (step == "staged"), s"image at $step")
    }
  }

  test("artifact cache: a bumped version rebuilds, the same version serves the cached copy") {
    val root = tmp("cachever")
    val src = Files.write(root.resolve("src.txt"), "corpus".getBytes("UTF-8"))
    var builds = 0
    def ensure(version: Int): String = withTmpdir(root)(
      ArtifactCache.ensure(src, ArtifactCache.Kind("graft-vercache", "m", version)) { st =>
        builds += 1
        Files.createDirectories(Paths.get(st))
        Files.write(Paths.get(st, "m"), s"v$version".getBytes("UTF-8"))
      })
    val v1 = ensure(1)
    assert(builds == 1)
    assert(ensure(1) == v1 && builds == 1, "the same version serves the cache")
    val v2 = ensure(2)
    assert(builds == 2 && v2 != v1, "a bumped version rebuilds")
    assert(new String(Files.readAllBytes(Paths.get(v2, "m")), "UTF-8") == "v2")
  }

  test("fuzzy-join snapshot images are absent or pass the full reuse check") {
    val s = spark
    import s.implicits._
    val names = (0 until 120).map(i => s"crash-$i-${System.nanoTime()}").toDF("s")
    val probe = FuzzyJoin.ensureSnapshot(Seq("seed-name").toDF("s"), 2, 1)
    val processRoot = Paths.get(probe).getParent
    var target: Path = null
    val images = imaging(processRoot, p => p == target ||
        p.getFileName.toString.startsWith("staging-")) {
      Publish.onStep = {
        val copy = Publish.onStep
        (step, t) => { target = t; copy(step, t) }
      }
      FuzzyJoin.ensureSnapshot(names, 2, 1)
    }
    assert(images.map(_._1) == Seq("staged", "renamed", "synced"))
    images.foreach { case (step, img) =>
      val snap = img.resolve(target.getFileName.toString)
      assert(Files.exists(snap) == (step != "staged"), s"image at $step")
      if (Files.exists(snap))
        assert(FuzzyJoin.validSnapshot(snap, 120L), s"image at $step")
    }
  }
}
