package graft

import graft.core._
import graft.exprs.EventOps
import graft.storage.{EventLogBackend, ParquetLogBackend, StoredEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Corruption matrix ≙ reference file/check_integrity_test.go:16-691: each
  * class of log damage must surface as the right violation. */
class IntegritySpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def cs(ts: Long, l: String, p: String, vp: Long): Long =
    EventOps.checksum(ts, UTF8String.fromString(l), UTF8String.fromString(p), vp)

  /** Fixed backend serving a hand-crafted (possibly damaged) log. */
  private class FixedBackend(events: Seq[StoredEvent]) extends EventLogBackend {
    override def snapshot(): DataFrame =
      spark.createDataFrame(events.map(_.toRow).asJava, EventSchema.schema)
    override def version: Long = events.lastOption.map(_.version).getOrElse(0L)
    override def versionInitial: Long = if (events.isEmpty) 0L else 1L
    override def metadata: Map[String, String] = Map.empty
    override def payloadLimit: Int = EventSchema.DefaultPayloadLimit
    override def append(e: EventData): AppendResult = ???
    override def appendMulti(es: Seq[EventData]): AppendResult = ???
    override def appendCheck(v: Long, e: EventData): AppendResult = ???
    override def appendCheckMulti(v: Long, es: Seq[EventData]): AppendResult = ???
    override def appendMultiTxn(
        q: String, b: Long, es: Seq[EventData]): AppendResult = ???
    override def close(): Unit = ()
  }

  private def healthy(n: Int): Seq[StoredEvent] =
    (1 to n).map { i =>
      val (l, p, ts, vp) = (s"l$i", s"""{"i":$i}""", 1000L + i, i - 1L)
      StoredEvent(i.toLong, vp, ts, l, p, cs(ts, l, p, vp))
    }

  private def issuesOf(events: Seq[StoredEvent]): Map[Long, Seq[String]] = {
    val log = new EventLog(new FixedBackend(events))
    log.checkIntegrity().collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
  }

  test("healthy chain → no violations") {
    assert(issuesOf(healthy(5)).isEmpty)
  }

  test("tampered payload → checksum_mismatch at that version") {
    val ev = healthy(5)
    val bad = ev.updated(2, ev(2).copy(payload = """{"i":999}"""))
    val is = issuesOf(bad)
    assert(is.keySet == Set(3L))
    assert(is(3L).contains("checksum_mismatch"))
  }

  test("timestamp regression → flagged on the regressing entry") {
    val ev = healthy(5)
    val e = ev(3)
    val bad = ev.updated(3,
      e.copy(timestamp = 500L,
        checksum = cs(500L, e.label, e.payload, e.versionPrevious)))
    val is = issuesOf(bad)
    assert(is(4L).contains("timestamp_regression"))
  }

  test("broken version_previous chain → flagged") {
    val ev = healthy(5)
    val e = ev(2)
    val bad = ev.updated(2,
      e.copy(versionPrevious = 7L,
        checksum = cs(e.timestamp, e.label, e.payload, 7L)))
    val is = issuesOf(bad)
    assert(is(3L).contains("broken_version_chain"))
  }

  test("first entry with nonzero version_previous → flagged") {
    val ev = healthy(3)
    val e = ev(0)
    val bad = ev.updated(0,
      e.copy(versionPrevious = 9L,
        checksum = cs(e.timestamp, e.label, e.payload, 9L)))
    assert(issuesOf(bad)(1L).contains("nonzero_first_version_previous"))
  }

  test("invalid stored payload → flagged even with a matching checksum") {
    val ev = healthy(3)
    val bad = ev.updated(1, {
      val e = ev(1)
      e.copy(payload = "not json",
        checksum = cs(e.timestamp, e.label, "not json", e.versionPrevious))
    })
    assert(issuesOf(bad)(2L).contains("invalid_payload"))
  }

  test("multiple independent damages all reported") {
    val ev = healthy(6)
    val bad = ev
      .updated(1, ev(1).copy(payload = """{"x":1}""")) // checksum break at v2
      .updated(4, { // chain break at v5
        val e = ev(4)
        e.copy(versionPrevious = 42L,
          checksum = cs(e.timestamp, e.label, e.payload, 42L))
      })
    val is = issuesOf(bad)
    assert(is(2L).contains("checksum_mismatch"))
    assert(is(5L).contains("broken_version_chain"))
  }

  // ---- persistent-backend corruption (on-disk tampering) ----

  test("parquet backend: open fails fast when the tail entry is corrupted") {
    val dir = Files.createTempDirectory("graftcor").toString
    val log = new EventLog(ParquetLogBackend.create(spark, dir,
      compactThreshold = 1000)) // keep everything in the commit-log tail
    (1 to 3).foreach(i => log.append(EventData(s"l$i", s"""{"i":$i}""")))
    log.close()

    val cl = Paths.get(dir, "commits.jsonl")
    // payloads are JSON-escaped inside the commit line: \"i\":3
    val tampered = Files.readString(cl).replace("""\"i\":3""", """\"i\":33""")
    Files.write(cl, tampered.getBytes(StandardCharsets.UTF_8))
    val ex = intercept[IllegalStateException](ParquetLogBackend.open(spark, dir))
    assert(ex.getMessage.contains("checksum mismatch"))
  }

  test("parquet backend: mid-log tampering caught by the integrity audit") {
    val dir = Files.createTempDirectory("graftcor2").toString
    val log = new EventLog(ParquetLogBackend.create(spark, dir,
      compactThreshold = 1000))
    (1 to 3).foreach(i => log.append(EventData(s"l$i", s"""{"i":$i}""")))
    log.close()

    val cl = Paths.get(dir, "commits.jsonl")
    val tampered = Files.readString(cl).replace("""\"i\":2""", """\"i\":22""")
    Files.write(cl, tampered.getBytes(StandardCharsets.UTF_8))
    val reopened = new EventLog(ParquetLogBackend.open(spark, dir))
    try {
      val is = reopened.checkIntegrity().collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
      assert(is.keySet == Set(2L))
      assert(is(2L).contains("checksum_mismatch"))
    } finally reopened.close()
  }

  test("parquet backend: a torn final commit line is dropped on open and cut from the file") {
    val dir = Files.createTempDirectory("graftcor3").toString
    val log = new EventLog(ParquetLogBackend.create(spark, dir,
      compactThreshold = 1000, compactIntervalMs = 0))
    (1 to 5).foreach(i => log.append(EventData(s"l$i", s"""{"i":$i}""")))
    log.close()

    // a crash mid-append: the 6th line's write reached the file only in part
    val cl = Paths.get(dir, "commits.jsonl")
    Files.writeString(cl, """{"ts":1,"vp":5,"v":6,"events":[{"l":"l6","p":""",
      java.nio.file.StandardOpenOption.APPEND)
    val reopened = new EventLog(ParquetLogBackend.open(spark, dir,
      compactThreshold = 1000, compactIntervalMs = 0))
    try {
      assert(reopened.version == 5L)
      assert(reopened.checkIntegrity().isEmpty)
      assert(reopened.append(EventData("l6", """{"i":6}""")).version == 6L)
    } finally reopened.close()

    val again = new EventLog(ParquetLogBackend.open(spark, dir,
      compactThreshold = 1000, compactIntervalMs = 0))
    try {
      assert(again.version == 6L)
      val last = again.scan(6L).collect()
      assert(last.length == 1)
      assert(last.head.getAs[String]("payload") == """{"i":6}""")
      assert(again.checkIntegrity().isEmpty)
    } finally again.close()
  }

  test("parquet backend: a malformed commit line followed by another fails open") {
    val dir = Files.createTempDirectory("graftcor4").toString
    val log = new EventLog(ParquetLogBackend.create(spark, dir,
      compactThreshold = 1000, compactIntervalMs = 0))
    (1 to 3).foreach(i => log.append(EventData(s"l$i", s"""{"i":$i}""")))
    log.close()

    val cl = Paths.get(dir, "commits.jsonl")
    val lines = Files.readAllLines(cl).asScala.toSeq
    // the 2nd of 3 lines cut short: only a final line may be torn
    Files.write(cl, Seq(lines(0), lines(1).take(20), lines(2))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val ex = intercept[IllegalStateException](
      ParquetLogBackend.open(spark, dir, compactIntervalMs = 0))
    assert(ex.getMessage.contains("malformed line"), ex.getMessage)
  }

  test("unsupported proto version rejected on open") {
    val dir = Files.createTempDirectory("graftproto")
    Files.writeString(dir.resolve("meta.json"),
      """{"proto":99,"payloadLimit":1048576,"metadata":{}}""")
    val ex = intercept[IllegalStateException](
      ParquetLogBackend.open(spark, dir.toString))
    assert(ex.getMessage.contains("unsupported log proto version"))
  }
}
