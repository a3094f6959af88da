package graft

import graft.core.{EventData, EventLog, EventSchema}
import graft.storage.ParquetLogBackend
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Segment file-count hygiene: timer compaction writes one small parquet
  * file per interval, so at scale the file COUNT (not bytes) would drown
  * scan planning. coalesceSegments rewrites the directory crash-safely;
  * open() rolls back an interrupted swap. Both segment writes (compaction
  * and coalescing) share one file layout, checked from the footers.
  */
class SegmentCoalesceSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def segments(dir: String): Seq[Path] = {
    val p = Paths.get(dir, "segments")
    if (!Files.exists(p)) Nil
    else scala.util.Using.resource(Files.list(p))(
      _.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList)
  }

  private def parquetFiles(dir: String): Int = segments(dir).size

  /** Codec of every column chunk and row count of every page in the
    * offset index, from the file's footer. */
  private def layout(file: Path): (Set[CompressionCodecName], Seq[Long]) = {
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), spark.sessionState.newHadoopConf())
    scala.util.Using.resource(ParquetFileReader.open(in)) { r =>
      val chunks = r.getFooter.getBlocks.asScala.toSeq
        .flatMap(b => b.getColumns.asScala.map(b -> _))
      val pageRows = chunks.flatMap { case (b, c) =>
        val oi = r.readOffsetIndex(c)
        assert(oi != null, s"no offset index for ${c.getPath} in $file")
        (0 until oi.getPageCount).map(i =>
          oi.getLastRowIndex(i, b.getRowCount) - oi.getFirstRowIndex(i) + 1)
      }
      (chunks.map(_._2.getCodec).toSet, pageRows)
    }
  }

  test("both segment writes lay out zstd with read-batch-sized pages") {
    val dir = Files.createTempDirectory("graftseg").toString
    val b = ParquetLogBackend.create(spark, dir,
      compactThreshold = 100000, compactIntervalMs = 0)
    val log = new EventLog(b)
    try {
      // compact() segments: [1,2500] (3 pages a column) and [2501,2600]
      Seq(1 to 2500, 2501 to 2600).foreach { vs =>
        vs.grouped(500).foreach(g => log.appendMulti(
          g.map(i => EventData("e", s"""{"i":$i,"pad":"${"x" * (i % 50)}"}"""))))
        b.compact()
      }
      def check(what: String): Unit = segments(dir).foreach { f =>
        val (codecs, pageRows) = layout(f)
        assert(codecs == Set(CompressionCodecName.ZSTD), s"$what $f: $codecs")
        assert(pageRows.forall(_ <= EventSchema.MaxReadBatchSize),
          s"$what $f: page rows ${pageRows.max}")
      }
      assert(parquetFiles(dir) == 2)
      check("compact")
      assert(segments(dir).map(layout(_)._2.size).max > EventSchema.schema.size,
        "the 2,500-event segment must span more than one page a column")
      b.coalesceSegments()
      assert(parquetFiles(dir) == 1)
      check("coalesceSegments")
      assert(log.scan(1L).count() == 2600L)
    } finally log.close()
  }

  test("compact() runs no Spark job") {
    val dir = Files.createTempDirectory("graftseg").toString
    val b = ParquetLogBackend.create(spark, dir,
      compactThreshold = 100000, compactIntervalMs = 0)
    val log = new EventLog(b)
    val sc = spark.sparkContext
    // jobs are told apart by the job group of the thread that ran them;
    // the listener bus is asynchronous, so a marker job in another group
    // flushes it: once its start is seen, every earlier job start was too
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      log.appendMulti((1 to 2500).map(i => EventData("e", s"""{"i":$i}""")))
      sc.setJobGroup("compact-probe", "compact()")
      b.compact()
      sc.setJobGroup("compact-probe-end", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!started.contains("compact-probe-end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(started.contains("compact-probe-end"), "marker job never seen")
      assert(started.asScala.count(_ == "compact-probe") == 0)
      assert(parquetFiles(dir) == 1)
      assert(log.scan(1L).count() == 2500L)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      log.close()
    }
  }

  test("coalesceSegments shrinks file count, preserves every event") {
    val dir = Files.createTempDirectory("graftseg").toString
    val b = ParquetLogBackend.create(spark, dir, compactIntervalMs = 0)
    val log = new EventLog(b)
    try {
      // 6 explicit compactions → 6 segment files
      (1 to 6).foreach { i =>
        (1 to 5).foreach(j => log.append(EventData("e", s"""{"i":$i,"j":$j}""")))
        b.compact()
      }
      assert(parquetFiles(dir) == 6)
      b.coalesceSegments()
      assert(parquetFiles(dir) == 1)
      assert(log.version == 30L)
      assert(log.scan(1L).count() == 30L)
      assert(log.checkIntegrity().isEmpty)
    } finally log.close()
  }

  test("open() rolls an interrupted swap back to segments.old") {
    val dir = Files.createTempDirectory("graftseg").toString
    val b = ParquetLogBackend.create(spark, dir, compactIntervalMs = 0)
    val log = new EventLog(b)
    (1 to 10).foreach(i => log.append(EventData("e", s"""{"i":$i}""")))
    b.compact()
    log.close()
    // simulate a crash mid-swap: segments moved aside, staging half-written
    Files.move(Paths.get(dir, "segments"), Paths.get(dir, "segments.old"),
      StandardCopyOption.ATOMIC_MOVE)
    Files.createDirectories(Paths.get(dir, "segments.rewrite"))
    Files.writeString(
      Paths.get(dir, "segments.rewrite", "part-junk.parquet"), "not parquet")

    val reopened = new EventLog(ParquetLogBackend.open(spark, dir))
    try {
      assert(reopened.version == 10L)
      assert(reopened.scan(1L).count() == 10L)
      assert(!Files.exists(Paths.get(dir, "segments.old")))
      assert(!Files.exists(Paths.get(dir, "segments.rewrite")))
    } finally reopened.close()
  }

  test("compact() auto-coalesces past the file-count threshold") {
    val dir = Files.createTempDirectory("graftseg").toString
    // threshold 4: the 5th single-file compaction triggers the rewrite
    val backend = ParquetLogBackend.create(spark, dir,
      compactIntervalMs = 0, maxSegmentFiles = 4)
    val log = new EventLog(backend)
    try {
      (1 to 6).foreach { i =>
        log.append(EventData("e", s"""{"i":$i}"""))
        backend.compact()
      }
      assert(parquetFiles(dir) <= 4)
      assert(log.scan(1L).count() == 6L)
    } finally log.close()
  }

  test("open() sweeps scratch dirs from crashed compactions") {
    val dir = Files.createTempDirectory("graftseg").toString
    val b = ParquetLogBackend.create(spark, dir, compactIntervalMs = 0)
    val log = new EventLog(b)
    log.append(EventData("e", """{"i":1}"""))
    log.close()
    // a compact() that died between the segment write and the atomic move
    val stranded = Paths.get(dir, "segments.write-deadbeef")
    Files.createDirectories(stranded)
    Files.writeString(stranded.resolve("part-0.parquet"), "junk")
    val reopened = ParquetLogBackend.open(spark, dir, compactIntervalMs = 0)
    try {
      assert(!Files.exists(stranded), "crashed-compaction scratch must be swept")
      assert(reopened.snapshot().count() == 1L)
    } finally reopened.close()
  }

  test("an unnamed segment file fails open and the graft source, naming the file") {
    val dir = Files.createTempDirectory("graftseg").toString
    val b = ParquetLogBackend.create(spark, dir, compactIntervalMs = 0)
    val log = new EventLog(b)
    (1 to 3).foreach(i => log.append(EventData("e", s"""{"i":$i}""")))
    b.compact()
    log.close()
    // a readable event parquet under a name no writer produces
    val segs = Paths.get(dir, "segments")
    val seg = scala.util.Using.resource(Files.list(segs))(
      _.filter(_.toString.endsWith(".parquet")).findFirst().get())
    Files.copy(seg, segs.resolve("part-00000.parquet"))
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).mkString(" | ")
    val eOpen = intercept[IllegalStateException] {
      ParquetLogBackend.open(spark, dir, compactIntervalMs = 0).close()
    }
    assert(eOpen.getMessage.contains("part-00000.parquet"), eOpen.getMessage)
    val eRead = intercept[Exception] {
      spark.read.format("graft").load(dir).collect()
    }
    assert(messages(eRead).contains("part-00000.parquet"), messages(eRead))
  }
}
