package graft

import graft.core.{EventData, EventLog}
import graft.storage.ParquetLogBackend
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** CLI create/check flows (the serving commands are covered by HttpApiSpec;
  * here: directory lifecycle + integrity exit paths). */
class CliSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("create then version on a fresh directory") {
    val dir = Files.createTempDirectory("graftcli").toString
    graft.cli.Main.main(Array("create", dir, "-m", "env:test"))
    val log = new EventLog(ParquetLogBackend.open(spark, dir))
    try {
      assert(log.version == 0L)
      assert(log.metadata == Map("env" -> "test"))
      log.append(EventData("e", """{"a":1}"""))
      assert(log.version == 1L)
    } finally log.close()
    // check passes on the healthy log
    graft.cli.Main.main(Array("check", dir, "--quiet"))
  }

  test("--max-payload-len reaches the created backend") {
    val dir = Files.createTempDirectory("graftcli").toString
    graft.cli.Main.main(Array("create", dir, "--max-payload-len", "16"))
    val log = new EventLog(ParquetLogBackend.open(spark, dir))
    try {
      log.append(EventData("ok", """{"a":1}"""))
      intercept[graft.core.Errors.ErrPayloadSizeLimitExceeded] {
        log.append(EventData("big", s"""{"k":"${"x" * 32}"}"""))
      }
    } finally log.close()
  }

  test("go-style duration parsing for --http-read-timeout") {
    assert(graft.cli.Main.parseDurationMs("2s") == 2000L)
    assert(graft.cli.Main.parseDurationMs("500ms") == 500L)
    assert(graft.cli.Main.parseDurationMs("1.5s") == 1500L)
    assert(graft.cli.Main.parseDurationMs("1m") == 60000L)
    intercept[IllegalArgumentException](graft.cli.Main.parseDurationMs("2"))
    intercept[IllegalArgumentException](graft.cli.Main.parseDurationMs("2x"))
  }

  test("serve flags reach the HTTP server config") {
    val log = new EventLog(new graft.storage.InMemoryBackend(spark))
    try {
      val s = graft.cli.Main.buildServer(log, Seq(
        "--http-max-scan-batch-size", "7", "--http-read-timeout", "750ms"))
      assert(s.maxReadBatchSize == 7)
      assert(s.httpReadTimeoutMs == 750L)
    } finally log.close()
  }

  test("version accepts a file:// URL") {
    val dir = Files.createTempDirectory("graftcli").toString
    graft.cli.Main.main(Array("create", dir))
    // must open the directory via the file scheme without error
    graft.cli.Main.main(Array("version", s"file://$dir"))
  }

  test("diff prints per-label deltas between two snapshots") {
    val dir = Files.createTempDirectory("graftclidiff").toString
    graft.cli.Main.main(Array("create", dir))
    val log = new EventLog(ParquetLogBackend.open(spark, dir))
    try {
      // versions 1-3: two a's + one b; versions 4-6: one more a, two c's
      log.append(EventData("a", """{"x":1}"""))
      log.append(EventData("a", """{"x":2}"""))
      log.append(EventData("b", """{"x":3}"""))
      log.append(EventData("a", """{"x":4}"""))
      log.append(EventData("c", """{"x":5}"""))
      log.append(EventData("c", """{"x":6}"""))
    } finally log.close()
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      graft.cli.Main.main(Array("diff", dir, "3", "6"))
    }
    val lines = out.toString.split("\n").filter(_.nonEmpty)
    def row(label: String): Array[String] =
      lines.find(_.startsWith(label)).get.trim.split("\\s+")
    assert(row("a").toSeq.tail.take(3) === Seq("2", "3", "1"))
    assert(row("b").toSeq.tail.take(3) === Seq("1", "1", "0"))
    assert(row("c").toSeq.tail.take(3) === Seq("0", "2", "2"),
      "a label born after vLo must read n_lo = 0")
  }

  test("search queries a persisted lexical index in all three modes") {
    import org.apache.spark.sql.functions.col
    val sparkS = spark
    import sparkS.implicits._
    val idxDir = Files.createTempDirectory("graftclisearch").toString
    graft.operators.SearchIndex.build(Seq(
        (1L, "new york hash table"),
        (2L, "york new hash hash"),
        (3L, "other words entirely")).toDF("doc_id", "text"))
      .save(idxDir)
    def run(args: String*): Seq[(Long, Long)] = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) {
        graft.cli.Main.main(("search" +: idxDir +: args).toArray)
      }
      out.toString.split("\n").drop(1).filter(_.trim.nonEmpty).toSeq
        .map { l =>
          val p = l.trim.split("\\s+"); (p(0).toLong, p(1).toLong)
        }
    }
    val tfidf = run("tfidf", "hash")
    assert(tfidf.map(_._1) === Seq(2L, 1L), s"tfidf: $tfidf")
    val bm25 = run("bm25", "hash")
    assert(bm25.map(_._1).toSet === Set(1L, 2L))
    assert(run("phrase", "new", "york") === Seq((1L, 1L)))
    assert(run("phrase", "york", "new") === Seq((2L, 1L)))
  }

  test("tokenize encodes text through a persisted model on both alphabets") {
    val sparkS = spark
    import sparkS.implicits._
    val modelDir = Files.createTempDirectory("graftclitok").toString
    val merges = graft.queries.TextAnalysis.trainBpeFastBytes(
      Seq((1L, "Hello hello 3.14 3.14 中文 中文")).toDF("doc_id", "text"),
      rounds = 10)
    graft.operators.BpeModel.save(spark, merges, modelDir)
    def run(args: String*): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) {
        graft.cli.Main.main(("tokenize" +: modelDir +: args).toArray)
      }
      out.toString.trim
    }
    val bytes = run("bytes", "Hello", "3.14", "中文")
    assert(bytes.matches("\\d+ ids: [0-9 ]+"), bytes)
    // byte alphabet: every word in-alphabet, ids present for all three
    assert(bytes.split(": ")(1).split(" ").nonEmpty)
    // the engine kernel agrees with the CLI rendering
    val expected = Seq("Hello 3.14 中文").toDF("t")
      .select(graft.exprs.functions
        .bpe_encode_byte_ids(org.apache.spark.sql.functions.col("t"), merges)
        .as("ids")).head().getSeq[Int](0)
    assert(bytes === s"${expected.size} ids: ${expected.mkString(" ")}")
    // az alphabet over the same model table: only [a-z]+ runs survive
    val az = run("az", "Hello", "3.14", "中文")
    assert(az.matches("\\d+ ids: .*"), az)
  }

  test("delete + gc drive the takedown lifecycle on both index kinds") {
    import org.apache.spark.sql.functions.col
    val sparkS = spark
    import sparkS.implicits._
    def cli(args: String*): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) {
        graft.cli.Main.main(args.toArray)
      }
      out.toString.trim
    }

    // search index: delete via CLI stops the doc being served; gc
    // physically collects the tombstoned postings
    val idxDir = Files.createTempDirectory("graftclidel").toString
    graft.operators.SearchIndex.build(Seq(
        (1L, "vector search engine"),
        (2L, "vector database"),
        (3L, "other words")).toDF("doc_id", "text"))
      .save(idxDir)
    assert(cli("delete", idxDir, "2", "99")
      .contains("deleted 1 of 2 documents"))
    val served = graft.operators.SearchIndex.search(
        graft.operators.SearchIndex.load(spark, idxDir), Seq("vector"), 5)
      .collect().map(_.getLong(0)).toSeq
    assert(served === Seq(1L), s"doc 2 must stop being served: $served")
    cli("gc", idxDir)
    val idx = graft.operators.SearchIndex.load(spark, idxDir)
    assert(idx.postings.filter(col("doc_id") === 2L).count() === 0L,
      "gc must physically collect the tombstoned postings")
    assert(graft.operators.SearchIndex.search(idx, Seq("vector"), 5)
      .collect().map(_.getLong(0)).toSeq === Seq(1L))

    // vector index: delete removes from cells AND the PQ code tier; gc
    // folds the per-append small files
    val vecDir = Files.createTempDirectory("graftclivec").toString
    val emb = graft.util.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    graft.operators.PqIndex.build(emb, m = 8, kCodes = 16, coarseK = 4)
      .save(vecDir)
    val n = emb.count()
    assert(cli("delete", vecDir, "7").contains("removed 1 of 1 vectors"))
    val vidx = graft.operators.PqIndex.load(spark, vecDir)
    assert(vidx.codes.filter(col("vec_id") === 7L).count() === 0L)
    assert(vidx.coarse.assignments.count() === n - 1)
    cli("gc", vecDir)
    assert(graft.operators.PqIndex.load(spark, vecDir)
      .codes.count() === n - 1, "gc must preserve the surviving vectors")

    // the drift verdict as an operational check: a freshly built index
    // judges ok against its own persisted baseline
    val drift = cli("drift", vecDir)
    assert(drift.contains("verdict=ok"), drift)
    assert(drift.contains("mean_resid_norm"), drift)

    // the one-call heal: rebuild refits in place (staged generation) and
    // reports the post-rebuild verdict against its fresh baseline
    val rebuilt = cli("rebuild", vecDir)
    assert(rebuilt.contains("rebuilt:"), rebuilt)
    assert(rebuilt.contains("verdict=ok"), rebuilt)
  }

  test("admit + compact-state drive the incremental intake lifecycle") {
    import spark.implicits._
    val state = Files.createTempDirectory("graftcli-state").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val drop1 = Files.createTempDirectory("graftcli-drop1").toString
    Seq((0L, base), (2L, "one two three four five six seven eight"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(drop1)
    val drop2 = Files.createTempDirectory("graftcli-drop2").toString
    Seq((1L, base), // exact dup vs state
        (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        (5L, "fresh novel content with its own distinct tokens"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(drop2)

    def run(args: String*): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) {
        graft.cli.Main.main(args.toArray)
      }
      buf.toString("UTF-8")
    }
    val p1 = run("admit", state, drop1)
    assert(p1.contains("admitted 2 of 2"), p1)
    val p2 = run("admit", state, drop2)
    assert(p2.contains("admitted 1 of 3"), p2)
    assert(p2.contains("exact_dup_state=1"), p2)
    // verdict flags are independent: the exact dup's identical signature
    // also near-dups the state (sim 1.0), so both docs 1 and 3 flag
    assert(p2.contains("near_dup_state=2"), p2)
    // replaying a drop is recognized by its fingerprint, not re-admitted
    val p3 = run("admit", state, drop1)
    assert(p3.contains("already admitted"), p3)
    val p4 = run("compact-state", state)
    assert(p4.contains("compacted to 1 delta(s) (3 docs"), p4)
    assert(p4.contains("gc removed 2"), p4)
    assert(graft.operators.DedupState.load(state).nDocs === 3L)
  }

  test("state-health reports the verdict of an admitted state") {
    import spark.implicits._
    val state = Files.createTempDirectory("graftcli-health").toString
    def dropDir(rows: (Long, String)*): String = {
      val d = Files.createTempDirectory("graftcli-healthdrop").toString
      rows.toSeq.toDF("doc_id", "text").write.mode("overwrite").parquet(d)
      d
    }
    def run(args: String*): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) {
        graft.cli.Main.main(args.toArray)
      }
      buf.toString("UTF-8")
    }
    run("admit", state, dropDir(
      0L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "one two three four five six seven eight"))
    run("admit", state,
      dropDir(5L -> "fresh novel content with its own distinct tokens"))

    val health = run("state-health", state)
    assert(health.contains("deltas=2") &&
      health.contains("compact_recommended=false"), health)
  }

  test("pack + pack-rows drive the incremental packing lifecycle") {
    import spark.implicits._
    val state = Files.createTempDirectory("graftcli-pack").toString
    val drop1 = Files.createTempDirectory("graftcli-ids1").toString
    // L=128 (the CLI default): one 130-id doc truncates to a full row;
    // one 60-id doc opens a second bin
    Seq((0L, (1 to 130).toList), (32L, (1 to 60).toList))
      .toDF("doc_id", "token_ids").write.mode("overwrite").parquet(drop1)
    val drop2 = Files.createTempDirectory("graftcli-ids2").toString
    // a 50-id doc (n_eff 51) fits drop 1's second bin (rem 67)
    Seq((64L, (1 to 50).toList))
      .toDF("doc_id", "token_ids").write.mode("overwrite").parquet(drop2)

    def run(args: String*): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) {
        graft.cli.Main.main(args.toArray)
      }
      buf.toString("UTF-8")
    }
    val p1 = run("pack", state, drop1)
    assert(p1.contains("packed 2 doc(s)"), p1)
    assert(p1.contains("2 training sequence(s)"), p1)
    val p2 = run("pack", state, drop2)
    assert(p2.contains("packed 1 doc(s)"), p2)
    assert(p2.contains("state now 3 docs in 2 training sequence(s)"),
      s"drop 2 must CONTINUE drop 1's open bin, not open a third: $p2")
    val p3 = run("pack", state, drop1)
    assert(p3.contains("already packed"), p3)

    val out = Files.createTempDirectory("graftcli-packrows").toString
    val p4 = run("pack-rows", state, out)
    assert(p4.contains("wrote training rows for 3 docs"), p4)
    val rows = spark.read.parquet(out).orderBy("bucket", "seq").collect()
    assert(rows.length === 2)
    assert(rows.map(_.getLong(3)).sum === 128L + 61L + 51L,
      "real tokens = truncated prefix+EOS contributions of all three docs")

    // a closeBelow state created via the optional CLI arg: the rule is
    // pinned in the manifest, pack-rows reads the geometry from there,
    // a no-arg re-pack takes the MANIFEST's geometry (round 17 — the
    // manifest wins, callers don't re-state), and an explicitly
    // MISMATCHED arg fails loudly
    val state2 = Files.createTempDirectory("graftcli-packc").toString
    val pc1 = run("pack", state2, drop1, "8")
    assert(pc1.contains("packed 2 doc(s)"), pc1)
    val out2 = Files.createTempDirectory("graftcli-packrows2").toString
    val pc2 = run("pack-rows", state2, out2)
    assert(pc2.contains("wrote training rows for 2 docs"), pc2)
    val pc3 = run("pack", state2, drop2) // no arg: pinned closeBelow=8
    assert(pc3.contains("packed 1 doc(s)"), pc3)
    val ph = run("pack-state-health", state2)
    assert(ph.contains("close_below=8"), ph)
    assert(ph.contains("compact_recommended=false"), ph)
    val e = intercept[IllegalArgumentException] {
      run("pack", state2, drop1, "4") // explicit 4 vs the pinned 8
    }
    assert(e.getMessage.contains("closeBelow"))
  }

  test("register-benchmark + decontaminate drive the registry lifecycle") {
    import spark.implicits._
    val reg = Files.createTempDirectory("graftcli-reg").toString
    val benchText = "alpha beta gamma delta epsilon zeta eta theta"
    val bench = Files.createTempDirectory("graftcli-bench").toString
    Seq((100L, benchText)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(bench)
    val drop = Files.createTempDirectory("graftcli-benchdrop").toString
    Seq((1L, benchText + " extra tail tokens"), // shares bench shingles
        (2L, "totally unrelated words with nothing shared at all"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(drop)

    def run(args: String*): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) {
        graft.cli.Main.main(args.toArray)
      }
      buf.toString("UTF-8")
    }
    val p1 = run("register-benchmark", reg, bench, "evalset-1")
    assert(p1.contains("registered 'evalset-1'"), p1)
    val p2 = run("register-benchmark", reg, bench, "evalset-1")
    assert(p2.contains("already registered"), p2)
    val p3 = run("decontaminate", reg, drop)
    assert(p3.contains("doc        1"), p3)
    assert(!p3.contains("doc        2"), "clean doc must not flag: " + p3)
    assert(p3.contains("1 document(s) flagged against 1 registered"), p3)

    // the semantic tier: register benchmark EMBEDDINGS under the same
    // ledger (name-idempotent), served by flagSemantic
    val vecs = Files.createTempDirectory("graftcli-benchvecs").toString
    Seq((900L, (0 until 8).map(i => if (i == 0) 1.0 else 0.0).toList))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(vecs)
    val p4 = run("register-embeddings", reg, vecs, "evalset-emb")
    assert(p4.contains("registered 'evalset-emb' (1 vectors)"), p4)
    assert(p4.contains("registry now 2 benchmark(s)"), p4)
    val p5 = run("register-embeddings", reg, vecs, "evalset-emb")
    assert(p5.contains("already registered"), p5)

    // the typed health verdict (round 17): registration fan-in, word-
    // Bloom fill, vecs broadcast volume
    val p6 = run("registry-health", reg)
    assert(p6.contains("registrations=2"), p6)
    assert(p6.contains("vecs=1"), p6)
    assert(p6.contains("compact_recommended=false"), p6)
    assert(p6.contains("bloom_saturated=false"), p6)
  }

  test("admit-media + media-state-health drive the perceptual intake lifecycle") {
    import spark.implicits._
    val state = Files.createTempDirectory("graftcli-media").toString
    val d1 = Files.createTempDirectory("graftcli-media1").toString
    Seq((0L, 0x5a5a5a5a5a5a5a5aL), (2L, 0x1234567890abcdefL))
      .toDF("img_id", "phash").write.mode("overwrite").parquet(d1)
    val d2 = Files.createTempDirectory("graftcli-media2").toString
    // 11 = exact copy of 0's hash; 13 = 2 bits flipped (near); 15 fresh
    Seq((11L, 0x5a5a5a5a5a5a5a5aL),
        (13L, 0x1234567890abcdefL ^ 3L),
        (15L, 0x0f0f0f0f0f0f0f0fL))
      .toDF("img_id", "phash").write.mode("overwrite").parquet(d2)

    def run(args: String*): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) {
        graft.cli.Main.main(args.toArray)
      }
      buf.toString("UTF-8")
    }
    val p1 = run("admit-media", state, d1)
    assert(p1.contains("admitted 2 of 2"), p1)
    val p2 = run("admit-media", state, d2)
    assert(p2.contains("admitted 1 of 3"), p2)
    assert(p2.contains("exact_dup_state=1"), p2)
    assert(p2.contains("near_dup_state=2"),
      "the exact copy also near-dups (hamming 0): " + p2)
    val p3 = run("admit-media", state, d2)
    assert(p3.contains("already admitted"), p3)
    val p4 = run("media-state-health", state)
    assert(p4.contains("deltas=2 images=3"), p4)
    assert(p4.contains("compact_recommended=false"), p4)
  }

  test("scan counts a watch-list over command-line text, overlaps included") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      graft.cli.Main.main(Array("scan", "aa,ab,stream", "aaab", "streaming"))
    }
    val lines = out.toString.trim.split("\n").map(_.split("\t"))
    val counts = lines.map(a => a(0) -> a(1).toInt).toMap
    assert(counts === Map("aa" -> 2, "ab" -> 1, "stream" -> 1))
  }
}
