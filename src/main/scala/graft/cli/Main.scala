package graft.cli

import graft.api.HttpApiServer
import graft.core.{EventLog, EventSchema}
import graft.storage.{InMemoryBackend, ParquetLogBackend}
import org.apache.spark.sql.SparkSession

/** CLI ≙ reference cmd/eventlog (cli.go:23-129):
  *
  *   inmem   [serve flags] [-m key:value ...]        serve a volatile log
  *   create  <dir> [-m ...] [--max-payload-len N]    create a log directory
  *   run     <dir> [serve flags]                     serve a persistent log
  *   check   <dir> [--quiet]                         integrity audit
  *   version <url|file://dir|dir>                    print latest version
  *   import  <nativefile> <dir>                      migrate a Go-written
  *                                                   .eventlog (extension)
  *
  * Serve flags ≙ cli.go:203-233: `--http-port P`,
  * `--http-read-timeout DUR` (Go duration, default 2s),
  * `--http-max-scan-batch-size N` (default 1000); `inmem` also takes
  * `--max-payload-len N`. `version` accepts http(s):// URLs, file:// log
  * directories (main.go:151-170), or a bare directory path.
  */
object Main {
  private def spark(): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-eventlog")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def metaArgs(args: Seq[String]): Map[String, String] =
    args.sliding(2).collect {
      case Seq("-m", kv) if kv.contains(":") =>
        val Array(k, v) = kv.split(":", 2)
        k -> v
    }.toMap

  private def intFlag(args: Seq[String], name: String, default: Int): Int =
    args.sliding(2).collectFirst {
      case Seq(`name`, v) => v.toInt
    }.getOrElse(default)

  /** Go-style duration ("2s", "500ms", "1m30s" unsupported — single unit) →
    * milliseconds; ≙ time.ParseDuration for the flag values the reference
    * documents (cli.go:195). */
  private[graft] def parseDurationMs(s: String): Long = {
    val m = "^(\\d+(?:\\.\\d+)?)(ns|us|µs|ms|s|m|h)$".r.findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"invalid duration: $s"))
    val n = m.group(1).toDouble
    val unitMs = m.group(2) match {
      case "ns" => 1e-6
      case "us" | "µs" => 1e-3
      case "ms" => 1.0
      case "s" => 1000.0
      case "m" => 60000.0
      case "h" => 3600000.0
    }
    (n * unitMs).toLong
  }

  private def durFlag(args: Seq[String], name: String, defaultMs: Long): Long =
    args.sliding(2).collectFirst {
      case Seq(`name`, v) => parseDurationMs(v)
    }.getOrElse(defaultMs)

  private[graft] def buildServer(log: EventLog, rest: Seq[String]): HttpApiServer =
    new HttpApiServer(log,
      port = intFlag(rest, "--http-port", 8080),
      maxReadBatchSize =
        intFlag(rest, "--http-max-scan-batch-size", EventSchema.MaxReadBatchSize),
      httpReadTimeoutMs = durFlag(rest, "--http-read-timeout", 2000))

  private def serve(log: EventLog, rest: Seq[String]): Unit = {
    val server = buildServer(log, rest)
    val actual = server.start()
    println(s"listening on :$actual")
    sys.addShutdownHook { server.stop(); log.close() }
    Thread.currentThread().join()
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case "inmem" +: rest =>
      serve(new EventLog(new InMemoryBackend(spark(), metaArgs(rest),
        intFlag(rest, "--max-payload-len",
          graft.core.EventSchema.DefaultPayloadLimit))), rest)

    case "create" +: dir +: rest =>
      ParquetLogBackend.create(spark(), dir, metaArgs(rest),
        intFlag(rest, "--max-payload-len",
          graft.core.EventSchema.DefaultPayloadLimit)).close()
      println(s"created event log at $dir")

    case "run" +: dir +: rest =>
      serve(new EventLog(ParquetLogBackend.open(spark(), dir)), rest)

    case "check" +: dir +: rest =>
      val log = new EventLog(ParquetLogBackend.open(spark(), dir))
      try {
        val issues = log.checkIntegrity().collect()
        if (issues.isEmpty) {
          if (!rest.contains("--quiet")) println("integrity check passed")
        } else {
          issues.foreach(r => println(
            s"version ${r.getLong(0)}: ${r.getSeq[String](1).mkString(", ")}"))
          sys.exit(1)
        }
      } finally log.close()

    case Seq("version", target) if target.startsWith("http") =>
      val body = new String(java.net.URI.create(s"$target/version").toURL
        .openStream().readAllBytes())
      println(body)

    // file:// scheme opens the log directory directly (main.go:159-165);
    // a bare path is accepted as a convenience alias
    case Seq("version", target) =>
      val dir =
        if (target.startsWith("file://")) target.stripPrefix("file://")
        else if (target.contains("://")) {
          System.err.println(
            s"unsupported protocol: ${target.takeWhile(_ != ':')}")
          sys.exit(2)
        } else target
      val log = new EventLog(ParquetLogBackend.open(spark(), dir))
      try println(log.version) finally log.close()

    // extension (no reference analog): per-label corpus drift between two
    // log snapshots — graft_version_diff as an operational command. Both
    // reads are versionAsOf-pruned scans of the one immutable log.
    case Seq("diff", dir, vLo, vHi) =>
      // versionDiffCard's left join reads from the HI side, which is only
      // exact when vLo <= vHi — swapped arguments would silently DROP
      // labels present only at the larger version instead of erroring.
      // Range-check both against the log so a typo'd version fails loudly
      // instead of diffing against a silently-clamped snapshot.
      val (lo, hi) = (vLo.toLong, vHi.toLong)
      if (lo > hi) {
        System.err.println(s"diff: vLo ($lo) must be <= vHi ($hi)")
        sys.exit(2)
      }
      val latest = {
        val log = new EventLog(ParquetLogBackend.open(spark(), dir))
        try log.version finally log.close()
      }
      if (lo < 1 || hi > latest) {
        System.err.println(
          s"diff: versions must lie within the log's range [1, $latest]; " +
            s"got vLo=$lo vHi=$hi")
        sys.exit(2)
      }
      val rows = graft.queries.EventLogQueries
        .versionDiffCard(spark(), dir, lo, hi)
        .select("label", "n_lo", "n_hi", "n_delta", "chars_delta")
        .collect()
      println(f"${"label"}%-24s ${"n@" + vLo}%10s ${"n@" + vHi}%10s ${"+n"}%8s ${"+chars"}%10s")
      rows.foreach { r =>
        println(f"${r.getString(0)}%-24s ${r.getLong(1)}%10d ${r.getLong(2)}%10d " +
          f"${r.getLong(3)}%8d ${r.getLong(4)}%10d")
      }

    // extension (no reference analog): query a persisted lexical search
    // index (operators/SearchIndex) from the command line — tfidf | bm25
    // | phrase scoring over the bucket-pruned positional postings
    case "search" +: idxDir +: mode +: terms if terms.nonEmpty =>
      import graft.operators.SearchIndex
      val idx = SearchIndex.load(spark(), idxDir)
      val res = mode match {
        case "tfidf" => SearchIndex.search(idx, terms, 20)
        case "bm25" => SearchIndex.searchBm25(idx, terms, 20)
        case "phrase" => SearchIndex.searchPhrase(idx, terms, 20)
        case other =>
          System.err.println(
            s"unknown scoring mode '$other' (tfidf|bm25|phrase)")
          sys.exit(2)
          null
      }
      val scoreName = if (mode == "phrase") "n_occurrences" else "score"
      println(f"${"doc_id"}%10s ${scoreName}%14s")
      res.collect().foreach(r =>
        println(f"${r.getLong(0)}%10d ${r.getLong(1)}%14d"))

    // extension (no reference analog): tokenize text from the command
    // line through a persisted BpeModel — az (lowercased [a-z]+ words),
    // bytes (whitespace words over UTF-8 byte base symbols; digits,
    // punctuation, case, and non-Latin text all tokenize), pretok
    // (category-run pre-tokenizer), or gpt2 (contractions + space-prefix
    // + whitespace runs — lossless incl. whitespace)
    case "tokenize" +: modelDir +: alphabet +: words if words.nonEmpty =>
      import org.apache.spark.sql.functions.col
      val s = spark()
      import s.implicits._
      val merges = graft.operators.BpeModel.load(s, modelDir)
      val text = words.mkString(" ")
      val enc = alphabet match {
        case "az" => graft.exprs.functions.bpe_encode_ids(col("t"), merges)
        case "bytes" =>
          graft.exprs.functions.bpe_encode_byte_ids(col("t"), merges)
        case "pretok" =>
          graft.exprs.functions.bpe_encode_pretok_ids(col("t"), merges)
        case "gpt2" =>
          graft.exprs.functions.bpe_encode_gpt2_ids(col("t"), merges)
        // a model created by BpeModel.importMerges carries its released
        // vocabulary — emit the RELEASED ids (gpt2 pre-tokenizer tier)
        case "imported" =>
          // versions(...) is empty on a missing/empty model dir — give it
          // the same friendly exit-2 diagnostic as the no-vocab case
          // instead of an unhandled NoSuchElementException
          graft.operators.BpeModel.versions(modelDir).lastOption
            .flatMap(v => graft.operators.BpeModel.loadVocab(modelDir, v))
            match {
            case Some(vocab) =>
              graft.exprs.functions.bpe_encode_imported_ids(
                col("t"), merges, vocab)
            case None =>
              System.err.println(
                s"model at $modelDir carries no imported vocabulary " +
                  "(not created by importMerges?)")
              sys.exit(2)
              null
          }
        case other =>
          System.err.println(
            s"unknown alphabet '$other' (az|bytes|pretok|gpt2|imported)")
          sys.exit(2)
          null
      }
      val ids = Seq(text).toDF("t").select(enc.as("ids"))
        .head().getSeq[Int](0)
      println(s"${ids.size} ids: ${ids.mkString(" ")}")

    // extension (no reference analog): one-pass Aho–Corasick watch-list
    // scan of command-line text — per-keyword overlap-counting
    // occurrence counts through the SAME KeywordTable the
    // text_keyword_scan entry plans
    case "scan" +: keywordCsv +: words if words.nonEmpty =>
      val keywords = keywordCsv.split(",").toSeq.filter(_.nonEmpty)
      if (keywords.isEmpty) {
        System.err.println("scan needs a non-empty comma-separated watch-list")
        sys.exit(2)
      }
      val table = new graft.exprs.KeywordTable(keywords)
      val counts = table.scan(words.mkString(" "))
      keywords.zip(counts).foreach { case (kw, n) => println(s"$kw\t$n") }

    // extension (no reference analog): the DELETION lifecycle from the
    // command line — takedowns are operator-initiated, so the
    // library-level deleteDocs/removeVectors get an operational surface
    // next to search/diff/scan. The index kind is detected from its
    // on-disk layout: postings+meta = search index (tombstone batch),
    // cells = vector index (staged-generation removal, PQ tier included
    // automatically).
    case "delete" +: idxDir +: rawIds if rawIds.nonEmpty =>
      val ids = rawIds.map { s =>
        try s.toLong
        catch {
          case _: NumberFormatException =>
            System.err.println(s"delete: '$s' is not a numeric id")
            sys.exit(2)
            0L
        }
      }
      import java.nio.file.{Files, Paths}
      if (Files.isDirectory(Paths.get(idxDir, "postings"))) {
        val n = graft.operators.SearchIndex.deleteDocs(spark(), idxDir, ids)
        println(s"deleted $n of ${ids.size} documents from $idxDir")
      } else if (Files.isDirectory(Paths.get(idxDir, "cells"))) {
        val n = graft.operators.IvfIndex.removeVectors(spark(), idxDir, ids)
        println(s"removed $n of ${ids.size} vectors from $idxDir")
      } else {
        System.err.println(
          s"delete: $idxDir is neither a search index (postings/) nor a " +
            "vector index (cells/)")
        sys.exit(2)
      }

    // extension (no reference analog): fold tombstones / per-epoch small
    // files — SearchIndex.compact collects deleted postings physically;
    // the vector side rewrites each cell to ~one file (both crash-safe,
    // same maintenance primitives the streaming maintainers run inline)
    case Seq("gc", idxDir) =>
      import java.nio.file.{Files, Paths}
      if (Files.isDirectory(Paths.get(idxDir, "postings"))) {
        graft.operators.SearchIndex.compact(spark(), idxDir)
        println(s"compacted search index at $idxDir")
      } else if (Files.isDirectory(Paths.get(idxDir, "cells"))) {
        if (Files.isDirectory(Paths.get(idxDir, "pq_codes")))
          graft.operators.PqIndex.compact(spark(), idxDir)
        else graft.operators.IvfIndex.compact(spark(), idxDir)
        println(s"compacted vector index at $idxDir")
      } else {
        System.err.println(
          s"gc: $idxDir is neither a search index (postings/) nor a " +
            "vector index (cells/)")
        sys.exit(2)
      }

    // extension (no reference analog): the quantizer-drift verdict from
    // the command line — the typed rebuild signal (IvfIndex.driftVerdict
    // against the persisted build-time baseline) as an operational
    // check, next to delete/gc in the maintenance surface
    case Seq("drift", idxDir) =>
      if (!java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(idxDir, "cells"))) {
        System.err.println(s"drift: $idxDir is not a vector index (cells/)")
        sys.exit(2)
      }
      val rep = graft.operators.IvfIndex.driftVerdict(spark(), idxDir)
      println(f"${"cell"}%6s ${"n"}%10s ${"mean_resid_norm"}%16s ${"adc_self_gap"}%13s")
      rep.perCell.foreach { c =>
        val resid = c.meanResidNorm.map(v => f"$v%.6f").getOrElse("n/a")
        val gap = c.adcSelfGap.map(v => f"$v%.6f").getOrElse("n/a")
        println(f"${c.cell}%6d ${c.n}%10d ${resid}%16s ${gap}%13s")
      }
      val base = rep.baselineResidNorm.map(v => f"$v%.6f").getOrElse("n/a")
      println(f"corpus mean_resid_norm=${rep.meanResidNorm}%.6f " +
        s"baseline=$base verdict=${rep.verdict}")

    // extension (no reference analog): the one-call heal the drift
    // verdict's "rebuild" calls for — refit coarse + codebooks as one
    // staged crash-safe generation, carry the pinned rotation, fresh
    // baseline; prints the post-rebuild verdict
    case "rebuild" +: idxDir +: rest if rest.length <= 1 =>
      if (!java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(idxDir, "cells"))) {
        System.err.println(s"rebuild: $idxDir is not a vector index (cells/)")
        sys.exit(2)
      }
      // optional sizing: keep k (default), `auto` = the √n IVF sizing,
      // or an explicit cell count
      val k = rest.headOption match {
        case Some("auto") => graft.operators.IvfIndex.AutoK
        case Some(n) => n.toInt
        case None => 0
      }
      val rep = graft.operators.IvfIndex.rebuild(spark(), idxDir, k = k)
      println(s"rebuilt: cells=${rep.perCell.length} " +
        f"corpus mean_resid_norm=${rep.meanResidNorm}%.6f " +
        s"verdict=${rep.verdict}")

    // extension (no reference analog): ingest a JSONL corpus into the
    // engine's parquet documents layout — clean rows land, malformed
    // lines quarantine under <out>/_rejects (never a crash, never a
    // silent drop), both counts printed
    case Seq("ingest-jsonl", inDir, outDir) =>
      val s = spark()
      // PIN the shard list once: the clean and rejects legs (and the
      // file audit) must describe ONE corpus even if shards land in the
      // drop dir between passes — otherwise the printed counts describe
      // different corpora
      val files = graft.sources.CorpusJsonl.listShards(s, inDir)
      val clean = graft.sources.CorpusJsonl.readFiles(s, files)
      clean.write.mode("overwrite").parquet(outDir)
      val nClean = s.read.parquet(outDir).count()
      val rejects = graft.sources.CorpusJsonl.readCorruptFiles(s, files)
      val nBad = rejects.count()
      if (nBad > 0)
        rejects.write.mode("overwrite").json(s"$outDir/_rejects")
      // file-level quarantine: shards the read skipped (corrupt gzip)
      // are surfaced, never silently under-counted
      val audit = graft.sources.CorpusJsonl.auditShards(s, files)
        .filter(!org.apache.spark.sql.functions.col("ok"))
        .collect()
      if (audit.nonEmpty) {
        audit.foreach(r => System.err.println(
          s"skipped corrupt shard ${r.getString(0)} " +
            s"(${r.getLong(1)} lines readable): ${r.getString(3)}"))
      }
      println(s"ingested $nClean documents into $outDir" +
        (if (nBad > 0) s"; quarantined $nBad malformed lines" else "") +
        (if (audit.nonEmpty) s"; skipped ${audit.length} corrupt shard(s)"
         else ""))

    // extension (no reference analog): incremental intake admission —
    // dedup a parquet drop of (doc_id, text) documents against a
    // persisted DedupState, print the verdict accounting, and append the
    // admitted evidence as a new delta. The fingerprint defaults to the
    // drop path + its file fingerprint, so re-running a crashed
    // invocation is a no-op (the manifest ledger recognizes it).
    case Seq("admit", stateDir, dropDir) =>
      val s = spark()
      val fp = dropDir + "|" + graft.util.ArtifactCache.fingerprintOf(
        java.nio.file.Paths.get(dropDir))
      val before = graft.operators.DedupState.load(stateDir)
      if (before.fingerprints.contains(fp)) {
        println(s"already admitted (fingerprint match): $dropDir")
      } else {
        import org.apache.spark.sql.functions.{col, count, lit, when}
        val batch = s.read.parquet(dropDir).select("doc_id", "text")
        val after =
          graft.operators.DedupState.admit(s, stateDir, batch, fp)
        // accounting from the NEW delta's persisted audit card — the
        // admission DAG ran exactly ONCE (inside admit); the card is that
        // run's own record, so the printed counts can never disagree with
        // what was admitted
        val newDelta = (after.deltas.map(_.name).toSet --
          before.deltas.map(_.name).toSet).head
        // explicit-schema read via the operator's own card reader (an
        // all-rejected or EMPTY drop writes a data-less card dir, where
        // parquet schema inference fails)
        val v = graft.operators.DedupState.card(s,
          after.copy(deltas = after.deltas.filter(_.name == newDelta)))
          .groupBy()
          .agg(count(lit(1)).as("n"),
            count(when(col("exact_dup_state"), true)).as("xs"),
            count(when(col("exact_dup_batch"), true)).as("xb"),
            count(when(col("near_dup_state"), true)).as("ns"),
            count(when(col("near_dup_batch"), true)).as("nb"))
          .collect().head
        println(s"admitted ${after.nDocs - before.nDocs} of ${v.getLong(0)} " +
          s"(exact_dup_state=${v.getLong(1)} exact_dup_batch=${v.getLong(2)} " +
          s"near_dup_state=${v.getLong(3)} near_dup_batch=${v.getLong(4)}); " +
          s"state now ${after.nDocs} docs in ${after.deltas.size} delta(s), " +
          s"manifest v${after.version}")
      }

    // extension (no reference analog): persisted benchmark registry —
    // register a benchmark's Bloom words; later drops decontaminate
    // against everything registered so far (name-idempotent)
    case Seq("register-benchmark", regDir, benchParquet, name) =>
      val s = spark()
      val before = graft.operators.DecontamRegistry.load(regDir)
      if (before.names.contains(name)) {
        println(s"already registered: $name")
      } else {
        val h = graft.operators.DecontamRegistry.register(
          s, regDir, s.read.parquet(benchParquet), name)
        println(s"registered '$name' " +
          s"(${h.nShingles - before.nShingles} distinct shingles); " +
          s"registry now ${h.names.size} benchmark(s), " +
          s"manifest v${h.version}")
      }

    // register a benchmark's EMBEDDINGS (vec_id, embedding parquet) —
    // the registry's semantic tier; later drops' embeddings
    // decontaminate against everything registered (name-idempotent)
    case Seq("register-embeddings", regDir, vecParquet, name) =>
      val s = spark()
      val before = graft.operators.DecontamRegistry.load(regDir)
      if (before.names.contains(name)) {
        println(s"already registered: $name")
      } else {
        val h = graft.operators.DecontamRegistry.registerEmbeddings(
          s, regDir, s.read.parquet(vecParquet),
          "vec_id", "embedding", name)
        println(s"registered '$name' " +
          s"(${h.nShingles - before.nShingles} vectors); " +
          s"registry now ${h.names.size} benchmark(s), " +
          s"manifest v${h.version}")
      }

    // flag a drop against the registry: per-doc contamination card
    case Seq("decontaminate", regDir, dropParquet) =>
      val s = spark()
      val h = graft.operators.DecontamRegistry.load(regDir)
      val card = graft.operators.DecontamRegistry
        .flag(s, h, s.read.parquet(dropParquet))
        .orderBy(org.apache.spark.sql.functions.col("doc_id"))
        .collect()
      card.foreach(r => println(
        f"doc ${r.getLong(0)}%8d: ${r.getLong(2)}%5d/${r.getLong(1)}%-5d " +
          f"shingles flagged (${r.getDouble(3) * 100}%.1f%%)"))
      println(s"${card.length} document(s) flagged against " +
        s"${h.names.size} registered benchmark(s)")

    // extension (no reference analog): incremental training-row packing —
    // FFD-pack a parquet drop of (doc_id, token_ids) rows into the
    // persisted PackState (continuing earlier drops' open bins), then
    // print the pack accounting. Geometry defaults to the library's
    // pack_best_fit_tokens constants (L=128 buckets=32 eos=34 pad=35);
    // an existing state's manifest pins its own geometry and a mismatch
    // fails loudly. The fingerprint defaults to the drop path +
    // file fingerprint, so a crashed invocation re-runs as a no-op.
    // optional trailing arg = closeBelow (the round-16 closed-bins
    // rule, pinned into the state's geometry at CREATION): an existing
    // state's manifest wins — its pinned geometry (whole Params, not
    // just closeBelow) is read back and a supplied arg is only
    // VALIDATED against it; a fresh state takes the arg (default 2,
    // the round-17 semantics-free close rule)
    case Seq("pack", stateDir, dropDir, rest @ _*) if rest.size <= 1 =>
      val s = spark()
      val explicitClose = rest.headOption.map(_.toInt)
      val p = graft.operators.PackState.loadOpt(stateDir) match {
        case Some(h) =>
          explicitClose.foreach(cb => require(
            cb == h.params.closeBelow,
            s"state at $stateDir pins closeBelow=${h.params.closeBelow}, " +
              s"caller passed $cb — the manifest geometry wins; omit the " +
              "arg or re-state the pinned value"))
          h.params
        case None => graft.operators.PackState.Params(
          seqLen = 128, eosId = 34, padId = 35, buckets = 32,
          closeBelow = explicitClose.getOrElse(2))
      }
      val fp = dropDir + "|" + graft.util.ArtifactCache.fingerprintOf(
        java.nio.file.Paths.get(dropDir))
      val before = graft.operators.PackState.load(stateDir, p)
      if (before.fingerprints.contains(fp)) {
        println(s"already packed (fingerprint match): $dropDir")
      } else {
        val drop = s.read.parquet(dropDir).select("doc_id", "token_ids")
        val after = graft.operators.PackState.pack(s, stateDir, drop, fp, p)
        // coalesce: an empty state's sum(n_real) aggregates to null
        val rows = graft.operators.PackState.trainingRows(s, after)
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)),
            org.apache.spark.sql.functions.coalesce(
              org.apache.spark.sql.functions.sum(
                org.apache.spark.sql.functions.col("n_real")),
              org.apache.spark.sql.functions.lit(0L)))
          .collect().head
        println(s"packed ${after.nDocs - before.nDocs} doc(s); state now " +
          s"${after.nDocs} docs in ${rows.getLong(0)} training sequence(s) " +
          s"(${rows.getLong(1)} real tokens), manifest v${after.version}")
      }

    // emit the pack state's training rows to a parquet directory — the
    // trainer handoff (bucket, seq, n_docs, n_real, n_pad, ids_md5)
    case Seq("pack-rows", stateDir, outDir) =>
      val s = spark()
      // read-only: the state's own manifest pins the geometry, whatever
      // closeBelow (or future knobs) it was created with
      val h = graft.operators.PackState.loadAny(stateDir)
      graft.operators.PackState.trainingRows(s, h)
        .orderBy("bucket", "seq")
        .write.mode("overwrite").parquet(outDir)
      println(s"wrote training rows for ${h.nDocs} docs to $outDir " +
        s"(manifest v${h.version})")

    // fold the state's accumulated deltas and reclaim superseded dirs
    case Seq("compact-state", stateDir) =>
      val s = spark()
      val h = graft.operators.DedupState.compact(s, stateDir)
      val n = graft.operators.DedupState.gc(stateDir)
      println(s"compacted to ${h.deltas.size} delta(s) " +
        s"(${h.nDocs} docs, manifest v${h.version}); gc removed $n dir(s)")

    // the state's typed health verdict: delta accumulation (compaction
    // cadence) and exact-tier Bloom saturation (capacity)
    case Seq("state-health", stateDir) =>
      val s = spark()
      val h = graft.operators.DedupState.load(stateDir)
      val hr = graft.operators.DedupState.health(s, h)
      println(f"deltas=${hr.nDeltas} docs=${hr.nDocs} " +
        f"bloom_fill=${hr.bloomFill * 100}%.2f%% " +
        f"band_fanout_bound=${hr.bandFanoutBound} " +
        f"compact_recommended=${hr.compactRecommended} " +
        f"bloom_saturated=${hr.bloomSaturated}")

    // the registry's typed health verdict (round 17): registration
    // fan-in (compaction cadence), folded word-Bloom fill (capacity),
    // and the semantic tier's broadcast volume
    case Seq("registry-health", regDir) =>
      val s = spark()
      val h = graft.operators.DecontamRegistry.load(regDir)
      val hr = graft.operators.DecontamRegistry.health(s, h)
      println(f"registrations=${hr.nRegistrations} " +
        f"shingles=${hr.nShingles} vecs=${hr.nVecs} " +
        f"vecs_bytes=${hr.vecsBytes} " +
        f"word_bloom_fill=${hr.wordBloomFill * 100}%.2f%% " +
        f"compact_recommended=${hr.compactRecommended} " +
        f"bloom_saturated=${hr.bloomSaturated} " +
        f"vecs_heavy=${hr.vecsHeavy}")

    // perceptual media dedup against the persisted cross-drop state
    // (round 17): admit a parquet drop of (img_id, phash) rows — the
    // dHash column MultimodalPipeline.perceptualHash produces — and
    // print the verdict accounting from the new delta's audit card
    case Seq("admit-media", stateDir, dropDir) =>
      val s = spark()
      val fp = dropDir + "|" + graft.util.ArtifactCache.fingerprintOf(
        java.nio.file.Paths.get(dropDir))
      val before = graft.operators.MediaDedupState.load(stateDir)
      if (before.fingerprints.contains(fp)) {
        println(s"already admitted (fingerprint match): $dropDir")
      } else {
        import org.apache.spark.sql.functions.{col, count, lit, when}
        val batch = s.read.parquet(dropDir).select("img_id", "phash")
        val after = graft.operators.MediaDedupState
          .admit(s, stateDir, batch, fp)
        val newDelta = (after.deltas.map(_.name).toSet --
          before.deltas.map(_.name).toSet).head
        val v = graft.operators.MediaDedupState.card(s,
          after.copy(deltas = after.deltas.filter(_.name == newDelta)))
          .groupBy()
          .agg(count(lit(1)).as("n"),
            count(when(col("exact_dup_state"), true)).as("xs"),
            count(when(col("exact_dup_batch"), true)).as("xb"),
            count(when(col("near_dup_state"), true)).as("ns"),
            count(when(col("near_dup_batch"), true)).as("nb"))
          .collect().head
        println(s"admitted ${after.nImgs - before.nImgs} of " +
          s"${v.getLong(0)} (exact_dup_state=${v.getLong(1)} " +
          s"exact_dup_batch=${v.getLong(2)} " +
          s"near_dup_state=${v.getLong(3)} " +
          s"near_dup_batch=${v.getLong(4)}); " +
          s"state now ${after.nImgs} images in ${after.deltas.size} " +
          s"delta(s), manifest v${after.version}")
      }

    // the pack store's typed health verdict: delta fan-in and the
    // active/closed bin split (the closeBelow rule's control surface)
    case Seq("pack-state-health", stateDir) =>
      val s = spark()
      val h = graft.operators.PackState.loadAny(stateDir)
      val hr = graft.operators.PackState.health(s, h)
      println(s"deltas=${hr.nDeltas} docs=${hr.nDocs} " +
        s"active_bins=${hr.activeBins} closed_bins=${hr.closedBins} " +
        s"close_below=${h.params.closeBelow} " +
        s"compact_recommended=${hr.compactRecommended}")

    case Seq("media-state-health", stateDir) =>
      val h = graft.operators.MediaDedupState.load(stateDir)
      val hr = graft.operators.MediaDedupState.health(h)
      println(s"deltas=${hr.nDeltas} images=${hr.nImgs} " +
        s"band_fanout_bound=${hr.bandFanoutBound} " +
        s"compact_recommended=${hr.compactRecommended}")

    // extension (no reference analog): tokenizer-model interchange —
    // export a byte-alphabet BpeModel as the public merges.txt /
    // vocab.json pair (inverse of BpeModel.importMerges)
    case Seq("export-tokenizer", modelDir, mergesOut, vocabOut) =>
      graft.operators.BpeModel.exportMerges(
        spark(), modelDir, mergesOut, vocabOut)
      println(s"exported $modelDir -> $mergesOut + $vocabOut")

    // extension (no reference analog): import a public merges.txt /
    // vocab.json release as a versioned BpeModel (served via the
    // `tokenize <dir> imported` alphabet)
    case Seq("import-tokenizer", mergesIn, vocabIn, modelDir) =>
      val v = graft.operators.BpeModel.importMerges(
        spark(), mergesIn, vocabIn, modelDir)
      println(s"imported $mergesIn + $vocabIn -> $modelDir (v=$v)")

    // extension (no reference analog): migrate a native .eventlog file
    // written by the original Go implementation into an engine log
    case Seq("import", nativeFile, dir) =>
      val s = spark()
      val backend =
        if (java.nio.file.Files.exists(
            java.nio.file.Paths.get(dir, "meta.json")))
          ParquetLogBackend.open(s, dir)
        else ParquetLogBackend.create(s, dir,
          graft.sources.NativeLog.readMeta(nativeFile))
      val log = new EventLog(backend)
      try {
        val n = graft.sources.NativeLog.importInto(log, nativeFile)
        println(s"imported $n events from $nativeFile into $dir " +
          s"(latest version ${log.version})")
      } finally log.close()

    case _ =>
      System.err.println(
        "usage: inmem|create <dir>|run <dir>|check <dir> [--quiet]|" +
          "version <url|dir>|diff <dir> <vLo> <vHi>|" +
          "search <indexdir> tfidf|bm25|phrase <term>...|" +
          "tokenize <modeldir> az|bytes|pretok|gpt2|imported <text>...|" +
          "scan <kw1,kw2,...> <text>...|" +
          "delete <indexdir> <id>...|gc <indexdir>|drift <indexdir>|" +
          "rebuild <indexdir> [auto|k]|" +
          "export-tokenizer <modeldir> <merges.txt> <vocab.json>|" +
          "ingest-jsonl <jsonldir> <parquetdir>|" +
          "import-tokenizer <merges.txt> <vocab.json> <modeldir>|" +
          "admit <statedir> <dropparquet>|compact-state <statedir>|" +
          "state-health <statedir>|" +
          "admit-media <statedir> <hashparquet>|" +
          "media-state-health <statedir>|pack-state-health <statedir>|" +
          "pack <statedir> <idsparquet> [closeBelow]|" +
          "pack-rows <statedir> <outdir>|" +
          "register-benchmark <regdir> <benchparquet> <name>|" +
          "register-embeddings <regdir> <vecparquet> <name>|" +
          "decontaminate <regdir> <dropparquet>|" +
          "registry-health <regdir>|" +
          "import <nativefile> <dir>")
      sys.exit(2)
  }
}
