package graft

import graft.core.{EventData, EventLog, EventSchema}
import graft.storage.ParquetLogBackend
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Plan-quality guards: the properties that keep scans fast at scale must
  * hold in the physical plan, not just in intent. */
class ScanPushdownSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def segFiles(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet

  test("scan version predicate reaches the parquet segment scan") {
    val dir = Files.createTempDirectory("graftpush").toString
    val log = new EventLog(ParquetLogBackend.create(spark, dir,
      compactThreshold = 10))
    try {
      (1 to 40).foreach(i => log.append(EventData(s"l$i", s"""{"i":$i}""")))
      val p = plan(log.scan(25L))
      // version >= 25 must appear as a parquet PushedFilters entry — this is
      // what lets the vectorized reader skip whole row groups / files via
      // min-max stats instead of decoding the full log.
      assert(p.contains("PushedFilters:") &&
        p.contains("GreaterThanOrEqual(version,25)"), p.take(2000))
    } finally log.close()
  }

  test("scan plans contain no global single-partition sort of the log") {
    val dir = Files.createTempDirectory("graftpush2").toString
    val log = new EventLog(ParquetLogBackend.create(spark, dir,
      compactThreshold = 10))
    try {
      (1 to 40).foreach(i => log.append(EventData(s"l$i", s"""{"i":$i}""")))
      // version_next derivation must be arithmetic (dense versions), never a
      // window over the whole log
      val p = plan(log.scan(1L))
      assert(!p.contains("Window"), p.take(2000))
    } finally log.close()
  }

  test("version-bounded scans read only the overlapping segment files") {
    val dir = Files.createTempDirectory("graftmanifest").toString
    val backend = ParquetLogBackend.create(spark, dir,
      compactThreshold = 1000, compactIntervalMs = 0)
    val log = new EventLog(backend)
    try {
      // three segments with known version ranges: [1,10] [11,20] [21,30]
      (1 to 3).foreach { seg =>
        (1 to 10).foreach(i =>
          log.append(EventData(s"s$seg", s"""{"i":$i}""")))
        backend.compact()
      }
      val all = segFiles(log.toDF)
      assert(all.size == 3 && all.forall(_.startsWith("seg-")), all)
      // forward scan from v25 → only the [21,30] file is planned
      val fwd = segFiles(log.scan(25L))
      assert(fwd.size == 1 && fwd.head.contains("0000000000000000021"), fwd)
      // reverse scan from v15 → [1,10] and [11,20], never [21,30]
      val rev = segFiles(log.scan(15L, reverse = true))
      assert(rev.size == 2 && !rev.exists(_.contains("0000000000000000021")), rev)
      // time travel to v10 → only the first file
      val tt = segFiles(log.snapshotAt(10L))
      assert(tt.size == 1 && tt.head.contains("0000000000000000001-0000000000000000010"), tt)
      // and pruning must not change results
      assert(log.scan(25L).count() == 6L)
      assert(log.scan(15L, reverse = true).count() == 15L)
    } finally log.close()
  }

  test("manifest pruning survives reopen and segment coalescing") {
    val dir = Files.createTempDirectory("graftmanifest2").toString
    var backend = ParquetLogBackend.create(spark, dir,
      compactThreshold = 1000, compactIntervalMs = 0)
    var log = new EventLog(backend)
    try {
      (1 to 3).foreach { seg =>
        (1 to 10).foreach(i => log.append(EventData(s"s$seg", s"""{"i":$i}""")))
        backend.compact()
      }
      log.close()
      // reopen: manifest rebuilt from file names (no footer job needed)
      backend = ParquetLogBackend.open(spark, dir, compactIntervalMs = 0)
      log = new EventLog(backend)
      assert(log.version == 30L)
      assert(log.scan(25L).inputFiles.length == 1)
      // coalesce history into one file: ranges re-derived, results intact
      backend.coalesceSegments(targetBytes = 1L << 40)
      val files = log.scan(25L).inputFiles
      assert(files.length == 1 && files.head.contains("seg-"), files.toSeq)
      assert(log.toDF.count() == 30L)
      assert(log.checkIntegrity().count() == 0L)
    } finally log.close()
  }

  /** Segments [1,10] [11,20] [21,30] plus the in-memory tail [31,35]. */
  private def segmentedLog(prefix: String): EventLog = {
    val backend = ParquetLogBackend.create(spark,
      Files.createTempDirectory(prefix).toString,
      compactThreshold = 1000, compactIntervalMs = 0)
    val log = new EventLog(backend)
    (1 to 3).foreach { seg =>
      (1 to 10).foreach(i => log.append(EventData(s"s$seg", s"""{"i":$i}""")))
      backend.compact()
    }
    (1 to 5).foreach(i => log.append(EventData("t", s"""{"i":$i}""")))
    log
  }

  test("paged scans plan only their page") {
    val log = segmentedLog("graftpage")
    try {
      // reverse page [23,25] → only the [21,30] segment
      val mid = segFiles(log.scan(25L, reverse = true, limit = Some(3)))
      assert(mid.size == 1 &&
        mid.head.contains("0000000000000000021-0000000000000000030"), mid)
      // a head page inside the tail plans no segment file at all
      val head = segFiles(log.scan(33L, reverse = true, limit = Some(2)))
      assert(head.isEmpty, head)
      // forward page [5,7]: the upper bound reaches the parquet scan (read
      // off the scan node — the plan string abbreviates long filter lists)
      val fwd = log.scan(5L, limit = Some(3)).queryExecution.executedPlan
      val pushed = fwd.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metadata("PushedFilters")
      }
      assert(pushed.size == 1 && pushed.head.contains("LessThanOrEqual(version,7)"),
        fwd.toString.take(2000))
    } finally log.close()
  }

  /** `events` appended in read-batch commits, then [1, events] compacted
    * into one segment, plus the in-memory tail [events+1, events+5]. */
  private def bigSegmentLog(prefix: String, events: Int): EventLog = {
    val backend = ParquetLogBackend.create(spark,
      Files.createTempDirectory(prefix).toString,
      compactThreshold = events + 1000, compactIntervalMs = 0)
    val log = new EventLog(backend)
    appendBatches(log, 1 to events)
    backend.compact()
    appendBatches(log, events + 1 to events + 5)
    log
  }

  private def appendBatches(log: EventLog, is: Range): Unit =
    is.grouped(EventSchema.MaxReadBatchSize).foreach(g =>
      log.appendMulti(g.map(i => EventData(s"b${i % 7}", s"""{"i":$i}"""))))

  test("paged scans equal the unbounded scan's first n rows on both backends") {
    val parquet = segmentedLog("graftpagegrid")
    val inmem = new EventLog(new graft.storage.InMemoryBackend(spark))
    // one 10,000-event segment: 1000-row Parquet pages, probed on and
    // beside the page boundaries and the segment/tail boundary
    val bigParquet = bigSegmentLog("graftpagegrid2", 10000)
    val bigInmem = new EventLog(new graft.storage.InMemoryBackend(spark))
    try {
      (1 to 35).foreach(i => inmem.append(EventData(s"m$i", s"""{"i":$i}""")))
      appendBatches(bigInmem, 1 to 10005)
      val small = (Seq(1L, 10L, 11L, 30L, 31L, 35L), Seq(1, 3, 12, 50))
      val big = (Seq(1L, 999L, 1000L, 1001L, 2000L, 2001L, 10000L, 10001L),
        Seq(3, EventSchema.MaxReadBatchSize))
      for {
        (name, log, (vs, ns)) <- Seq(("parquet", parquet, small),
          ("inmem", inmem, small), ("parquet-big", bigParquet, big),
          ("inmem-big", bigInmem, big))
        v <- vs
        n <- ns
        reverse <- Seq(false, true)
        skipFirst <- Seq(false, true)
      } {
        val paged = log.scan(v, reverse, Some(n), skipFirst).collect().toSeq
        val full = log.scan(v, reverse, None, skipFirst).limit(n).collect().toSeq
        assert(paged == full,
          s"$name scan($v, reverse=$reverse, n=$n, skipFirst=$skipFirst)")
      }
      // a forward page inside the segment decodes at most the two Parquet
      // pages its range touches, not all 10,000 rows
      val fwd = bigParquet.scan(4500L, limit = Some(EventSchema.MaxReadBatchSize))
      assert(fwd.collect().length == EventSchema.MaxReadBatchSize)
      val read = fwd.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }
      assert(read.size == 1 && read.head >= EventSchema.MaxReadBatchSize &&
        read.head <= 2L * EventSchema.MaxReadBatchSize, s"rows read from parquet: $read")
    } finally { parquet.close(); inmem.close(); bigParquet.close(); bigInmem.close() }
  }

  test("pipeline operators keep their audited exchange shapes") {
    val dir = "/root/testdata/sf0.001"
    def q(n: String) = graft.SparkEntry.queries(n)(spark, dir)
    def shuffles(p: String): Int =
      "Exchange hashpartitioning".r.findAllIn(p).length
    // Gopher gate: pure kernel projection — no explode, no hash exchange
    val gopher = plan(q("pipeline_gopher_filter"))
    assert(shuffles(gopher) == 0 && !gopher.contains("Generate"), gopher.take(2000))
    // packing: token COUNTS only (no explode), one per-bucket window exchange
    val pack = plan(q("pack_sequences"))
    assert(shuffles(pack) == 1 && !pack.contains("Generate"), pack.take(2000))
    // span dedup: duplicates come from a groupBy, never a self-join
    val span = plan(q("dedup_span_exact"))
    assert(!span.contains("Join"), span.take(2000))
    val spanO = plan(q("dedup_span_overlap"))
    assert(!spanO.contains("Join"), spanO.take(2000))
    // bloom probe: two broadcast word-mask lookups, no shuffled join
    val bloom = plan(q("decontaminate_bloom"))
    assert("BroadcastExchange".r.findAllIn(bloom).length == 2 &&
      !bloom.contains("SortMergeJoin"), bloom.take(3000))
    // perplexity: the model side must be the broadcast build side
    val ppx = plan(q("text_perplexity"))
    assert(ppx.contains("BuildRight"), ppx.take(3000))
    // composed intake: every join broadcasts (bench shingles, contaminated
    // id anti-join, keeper labels at this SF) — no shuffled or cartesian
    // join anywhere in the composition (EXPLAIN.md's claim, pinned)
    val ppc = plan(q("pipeline_pretrain_corpus"))
    assert(ppc.contains("LeftAnti, BuildRight"), ppc.take(3000))
    assert(!ppc.contains("SortMergeJoin") && !ppc.contains("CartesianProduct"),
      ppc.take(3000))
  }

  test("tryAppendMulti retries through version races") {
    val log = new EventLog(
      new graft.storage.InMemoryBackend(spark))
    try {
      log.append(EventData("seed", """{"s":1}"""))
      val r = log.tryAppendMulti(0L, assumed => Seq(
        EventData("m1", s"""{"assumed":$assumed}"""),
        EventData("m2", s"""{"assumed":$assumed}""")))
      assert(r.versionFirst == 2L && r.version == 3L)
    } finally log.close()
  }
}
