package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** Edit-distance similarity join (record linkage) via q-gram prefix
  * filtering — the Ed-Join candidate-generation scheme (Xiao, Wang, Lin,
  * VLDB 2008; public literature), recast as declarative Spark plans.
  *
  * Shape: the naive formulation is an all-pairs `levenshtein` cross join —
  * O(n²) and unrunnable at corpus scale. Prefix filtering bounds it:
  *
  *  1. Each string s contributes its DISTINCT q-grams.
  *  2. Fix any global total order on grams (we use document-frequency
  *     ascending, gram value as tiebreak — "rarest first", which minimizes
  *     candidate volume; correctness holds for ANY consistent order).
  *  3. Each string indexes only its first `k·q + 1` grams in that order
  *     (its *prefix*). Candidate pairs = pairs sharing ≥1 prefix gram.
  *  4. Verify candidates with banded `levenshtein(…, threshold = k)`.
  *
  * Why no false negatives (the property that makes the naive SQL a valid
  * oracle): one edit touches ≤ q positional grams, so it can delete ≤ q
  * DISTINCT gram values from a string's gram set; k edits delete ≤ k·q.
  * Hence ed(x,y) ≤ k ⟹ |set(Gx) ∩ set(Gy)| ≥ max(|Gx|,|Gy|) − k·q =: t.
  * When t ≥ 1, the standard prefix-filter theorem gives an intersection
  * between the (|G|−t+1)-prefixes, and |G|−t+1 ≤ k·q+1 for the larger side
  * (the smaller side's prefix is capped at all of its grams). The only
  * uncovered case is t < 1 — BOTH strings have ≤ k·q grams (length ≤
  * k·q+q−1) — which the short-string block below handles by an explicit
  * length-banded join over that (tiny, bounded-length) subset.
  *
  * 100 TB posture: the shuffle keys are single grams; candidate volume is
  * Σ_g df_prefix(g)², where df_prefix counts only PREFIX occurrences — the
  * rarest-first order drives hot "stop-grams" out of prefixes wherever a
  * string has anything rarer, which is the Ed-Join argument for why this
  * stays near-linear on natural text. No cap is applied (a cap would break
  * the exact-oracle guarantee); instead, a corpus whose gram alphabet is
  * too small to discriminate (zero-padded ids and the like — the measured
  * 100× scale-killer: 131 BILLION gram candidates at 1.5M such names) is
  * detected from the candidate-volume aggregate itself and rerouted to
  * the ≤k-DELETION SIGNATURE generator (FastSS / Mor–Fraenkel — see the
  * adaptive-generation block below and
  * [[graft.exprs.EditDistanceOps.deletionNeighborhood]]), which that
  * same corpus family keeps near-linear (~40·n candidates at any n).
  * Verification is the banded edit-distance kernel —
  * O(k·min(|l|,|r|)) per pair, not full DP — under either generator.
  * All stages are plain exchanges + codegen'd expressions.
  */
object FuzzyJoin extends org.apache.spark.internal.Logging {

  // Unicode unit discipline: EVERYTHING here counts CODE POINTS. Spark's
  // `length`/`substr` (the q-gram machinery and the length band) are
  // code-point-grained natively, and since round 13 so are the verify
  // kernel ([[graft.exprs.EditDistanceOps.within]]) and the deletion
  // signatures ([[graft.exprs.EditDistanceOps.deletionNeighborhood]]) —
  // supplementary-plane text (CJK extensions, emoji) is first-class, no
  // BMP guard needed. The DuckDB oracle's `levenshtein` is BYTE-grained,
  // so the oracle corpora stay ASCII (bytes = units = points there);
  // non-ASCII exactness is gated by FuzzyJoinSpec's reference-DP
  // property tests.

  /** Distinct q-grams of a string column; empty array below length q
    * (guarded — Spark's `sequence(1, 0)` would count DOWN, not empty). */
  def qgrams(c: Column, q: Int): Column =
    when(length(c) < q, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(sequence(lit(1), length(c) - (q - 1)),
          i => c.substr(i, lit(q)))))

  /** Strings with ≤ k·q distinct grams (length ≤ k·q+q−1) sit outside the
    * prefix-filter guarantee; they pair through the short block. */
  private def shortLen(q: Int, k: Int): Int = k * q + q - 1

  /** (s, g) prefix rows: each distinct string's first min(k·q+1, all)
    * grams under (df asc, gram asc), with df computed over `corpus` —
    * both join sides must rank against the SAME order, so callers pass
    * the union of their gram tables when the sides differ. */
  private def prefixRows(grams: DataFrame, dfTable: DataFrame, q: Int, k: Int): DataFrame = {
    val w = Window.partitionBy("s").orderBy(col("df"), col("g"))
    grams.join(dfTable, "g")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k * q + 1)
      .select("s", "g")
  }

  private def gramRows(names: DataFrame, q: Int): DataFrame =
    names.select(col("s"), explode(qgrams(col("s"), q)).as("g"))

  // ---------------------------------------------------------------------
  // Adaptive candidate generation (round 12). The gram-prefix scheme's
  // candidate volume is Σ_g C(df_prefix(g), 2) — near-linear on natural
  // text, but a corpus whose strings draw from a TINY gram alphabet
  // (e.g. zero-padded numeric ids: 101 distinct 2-grams however many
  // strings) degenerates toward n²/|alphabet|: measured 10.6M candidates
  // at 15k such names, 131 BILLION at 1.5M — a true 100× scale-killer.
  // For the small-k regime these joins run in, the ≤k-DELETION
  // NEIGHBORHOOD signature (FastSS / Mor–Fraenkel; see
  // [[graft.exprs.EditDistanceOps.deletionNeighborhood]] for the
  // no-false-negative proof) keys candidates by (len−k)-char signatures
  // whose buckets stay near-constant on exactly those corpora
  // (~40·n candidates at any n on the numeric-id family), at the price
  // of a (len+1)^k-factor signature explosion that natural long-string
  // corpora shouldn't pay. Neither dominates, so the generator is CHOSEN
  // FROM THE DATA, deterministically, with bounded decision cost:
  //  1. volG = exact gram-prefix candidate volume (one aggregate over
  //     the prefix table the plan needs anyway);
  //  2. if volG ≤ the deletion path's INPUT row bound (Σ |D≤k(s)|,
  //     computed from length stats alone) the gram plan is already no
  //     worse than the other path's floor — take it (the common case:
  //     natural text never reaches step 3);
  //  3. else pay one signature pass to compute volD exactly and take
  //     the smaller volume.
  // Both paths end in the same banded verify + output-sized distinct,
  // so the result is generator-independent (result-identical to the
  // naive quadratic oracle either way).
  // ---------------------------------------------------------------------

  /** Deletion signatures explode as (len+1)^k — beyond k=2 the gram
    * path is always taken. */
  private val MaxDeletionK = 2

  private def delSigs(names: DataFrame, k: Int): DataFrame =
    names.select(col("s"),
      explode(graft.exprs.functions.deletion_neighborhood(col("s"), k))
        .as("sig"))

  /** TWICE the upper bound on |D≤k(s)| from the length alone (doubled so
    * the k=2 triangular term stays in integer arithmetic — Spark's `/`
    * is fractional even on longs; the caller halves driver-side). */
  private def nbhdBound2x(len: Column, k: Int): Column = {
    val l = len.cast("long")
    k match {
      case 0 => lit(2L)
      case 1 => (l + 1L) * 2L
      case _ => lit(2L) + l * 2L + l * (l - 1L)
    }
  }

  /** Σ C(bucket, 2) over `key` buckets — the self-join candidate volume
    * (upper bound: ignores the length band). */
  private def pairVolumeSelf(keyed: DataFrame, key: String): Long =
    // Spark's `/` is fractional even on longs — halve driver-side
    keyed.groupBy(key).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - 1L)), lit(0L)))
      .head().getLong(0) / 2L

  /** Σ cA·cB over shared `key` buckets — the two-sided volume. */
  private def pairVolumeMatch(a: DataFrame, b: DataFrame, key: String): Long =
    a.groupBy(key).agg(count(lit(1)).as("ca"))
      .join(b.groupBy(key).agg(count(lit(1)).as("cb")), key)
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)))
      .head().getLong(0)

  private def sigRowBound(names: DataFrame, k: Int): Long =
    names.agg(coalesce(sum(nbhdBound2x(length(col("s")), k)), lit(0L)))
      .head().getLong(0) / 2L

  /** Generator-choice memo, keyed by (canonicalized input plan(s), k).
    * The decision passes are EAGER Spark jobs at builder time (see the
    * builders' scaladoc); repeated constructions over the same inputs —
    * benchmark reps, a stream twin next to its batch gate — should not
    * re-pay them. Safe to memoize across in-place data mutation at the
    * same path: the choice is a PERFORMANCE decision only, both
    * generators are result-identical. Bounded LRU. */
  private val generatorChoice =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(Seq[Any], Int), String](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(Seq[Any], Int), String]): Boolean =
          size() > 64
      })

  private def memoChoice(key: (Seq[Any], Int))(decide: => String): String = {
    val hit = generatorChoice.get(key)
    if (hit != null) hit
    else {
      val d = decide
      generatorChoice.put(key, d)
      d
    }
  }

  /** The deterministic generator choice for a SELF join (exposed for
    * the plan spec): "grams" or "deletions". */
  private[graft] def selfGenerator(
      names: DataFrame, prefix: DataFrame, k: Int): String = {
    if (k > MaxDeletionK) return "grams"
    val volG = pairVolumeSelf(prefix, "g")
    if (volG <= sigRowBound(names, k)) return "grams"
    if (pairVolumeSelf(delSigs(names, k), "sig") < volG) "deletions"
    else "grams"
  }

  /** The generator choice for a probe-vs-catalog join. */
  private[graft] def matchGenerator(
      p: DataFrame, c: DataFrame,
      prefixP: DataFrame, prefixC: DataFrame, k: Int): String = {
    if (k > MaxDeletionK) return "grams"
    val volG = pairVolumeMatch(prefixP, prefixC, "g")
    if (volG <= sigRowBound(p, k) + sigRowBound(c, k)) return "grams"
    if (pairVolumeMatch(delSigs(p, k), delSigs(c, k), "sig") < volG)
      "deletions"
    else "grams"
  }

  /** All pairs (name_a < name_b) of distinct values of `column` within
    * edit distance k, with the distance. Result-identical to the naive
    * all-pairs `levenshtein` join (the DuckDB oracle) under EITHER
    * candidate generator — the generator is chosen from the data (see
    * the adaptive-generation block above).
    *
    * NOT a lazy plan builder: the generator decision runs bounded EAGER
    * aggregate jobs over the input at construction time (memoized per
    * canonicalized input plan, so benchmark reps and twin constructions
    * pay them once per JVM). */
  def selfJoin(data: DataFrame, column: String, q: Int, k: Int): DataFrame = {
    val names = data.select(col(column).as("s"))
      .filter(col("s").isNotNull).distinct()
    val g = gramRows(names, q)
    val dfTable = g.groupBy("g").agg(count(lit(1)).as("df"))
    val prefix = prefixRows(g, dfTable, q, k)
    val gen = memoChoice(
      (Seq[Any](names.queryExecution.analyzed.canonicalized, q), k))(
      selfGenerator(names, prefix, k))
    if (gen == "deletions") {
      // deletion-signature candidates: every true pair shares a ≤k-
      // deletion variant (proof at the kernel), so ONE equi-join on the
      // signature generates all of them; the length band still prunes
      // for free, and there is no short-string special case (signatures
      // cover every length exactly). The merge hint is load-bearing:
      // Catalyst's static size estimate does not model the (len+1)^k
      // explode fan-out, under-sizes the signature relation, and
      // broadcasts it — which OOMs the build-side hash map at exactly
      // the corpus sizes this path exists for (measured at the 100×
      // rehearsal). Sort-merge is the right physical join for two
      // corpus-scale sides; AQE may still downgrade to broadcast from
      // ACTUAL runtime sizes, which is safe.
      val sigs = delSigs(names, k)
      val cand = sigs.as("a").hint("merge").join(sigs.as("b"),
          col("a.sig") === col("b.sig") && col("a.s") < col("b.s") &&
            abs(length(col("a.s")) - length(col("b.s"))) <= k)
        .select(col("a.s").as("name_a"), col("b.s").as("name_b"))
      return verify(cand, "name_a", "name_b", k).distinct()
    }
    // length band is free (ed ≤ k ⟹ |len diff| ≤ k) and cuts candidates
    // before they exist as rows
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.s") < col("b.s") &&
          abs(length(col("a.s")) - length(col("b.s"))) <= k)
      .select(col("a.s").as("name_a"), col("b.s").as("name_b"))
    val shorts = names.filter(length(col("s")) <= shortLen(q, k))
    val shortPairs = shorts.as("a").join(shorts.as("b"),
        col("a.s") < col("b.s") &&
          abs(length(col("a.s")) - length(col("b.s"))) <= k)
      .select(col("a.s").as("name_a"), col("b.s").as("name_b"))
    // verify BEFORE dedup: the banded levenshtein is ~100 ns/candidate,
    // while a distinct over the raw candidate pairs is a full shuffle of
    // the (hot-gram-amplified) pair stream — measured 33 s vs 2 s at
    // sf0.1 on the adversarial constant-prefix names. Duplicated
    // candidates (pairs sharing several prefix grams, ≤ (kq+1)² of them)
    // re-verify cheaply and collapse in the output-sized distinct.
    verify(cand.union(shortPairs), "name_a", "name_b", k).distinct()
  }

  /** All (probe, candidate, dist) with ed ≤ k between distinct probe
    * strings and distinct catalog strings. Gram ranks are computed over
    * the UNION of both sides so the two prefixes share one global order.
    *
    * NOT a lazy plan builder — eager decision jobs at construction,
    * memoized per input plans (see [[selfJoin]]). */
  def matchJoin(probes: DataFrame, probeCol: String,
      catalog: DataFrame, catCol: String, q: Int, k: Int): DataFrame = {
    val p = probes.select(col(probeCol).as("s"))
      .filter(col("s").isNotNull).distinct()
    val c = catalog.select(col(catCol).as("s"))
      .filter(col("s").isNotNull).distinct()
    val pg = gramRows(p, q)
    val cg = gramRows(c, q)
    val dfTable = pg.union(cg).groupBy("g").agg(count(lit(1)).as("df"))
    val prefixP = prefixRows(pg, dfTable, q, k)
    val prefixC = prefixRows(cg, dfTable, q, k)
    val gen = memoChoice(
      (Seq[Any](p.queryExecution.analyzed.canonicalized,
        c.queryExecution.analyzed.canonicalized, q), k))(
      matchGenerator(p, c, prefixP, prefixC, k))
    if (gen == "deletions") {
      // merge hint: see selfJoin — static stats under-size the explode
      val cand = delSigs(p, k).as("a").hint("merge")
        .join(delSigs(c, k).as("b"),
          col("a.sig") === col("b.sig") &&
            abs(length(col("a.s")) - length(col("b.s"))) <= k)
        .select(col("a.s").as("probe"), col("b.s").as("candidate"))
      return verify(cand, "probe", "candidate", k).distinct()
    }
    val cand = prefixP.as("a")
      .join(prefixC.as("b"),
        col("a.g") === col("b.g") &&
          abs(length(col("a.s")) - length(col("b.s"))) <= k)
      .select(col("a.s").as("probe"), col("b.s").as("candidate"))
    val shortPairs = p.filter(length(col("s")) <= shortLen(q, k)).as("a")
      .join(c.filter(length(col("s")) <= shortLen(q, k)).as("b"),
        abs(length(col("a.s")) - length(col("b.s"))) <= k)
      .select(col("a.s").as("probe"), col("b.s").as("candidate"))
    // verify-then-distinct: see selfJoin — dedup the output, not the
    // hot-gram-amplified candidate stream
    verify(cand.union(shortPairs), "probe", "candidate", k).distinct()
  }

  /** Distinct-gram ceiling for [[matchStream]]'s plan-literal df map —
    * the same plan-literal discipline as the streaming Bloom filter's
    * bitmap ceiling: beyond it, the map rides every serialized task.
    * A catalog past it falls back to the DELETION generator (which
    * needs no literal at all) when k permits; only k > [[MaxDeletionK]]
    * refuses. */
  private val MaxStreamCatalogGrams = 65536

  /** PER-PROCESS snapshot-cache root, created 0700 on first use. The
    * cache key is content-derived, so two JVMs on one machine using the
    * same catalog content would resolve to the SAME dir under a shared
    * tmpdir — and the first JVM's exit hook would delete the snapshot
    * out from under the other's live matchStream. Scoping the root by
    * PID + startup nonce keeps in-JVM content sharing (accumulation
    * stays bounded by distinct catalogs per process) while making
    * cross-process interference structurally impossible; 0700 closes
    * the tamperable-world-writable-path hole on shared hosts. ONE exit
    * hook deletes the whole root (only dirs this process created live
    * there); a SIGKILL'd process leaks its root, which the next
    * process's [[sweepDeadProcessRoots]] reclaims by PID liveness. */
  private val SnapPrefix = "graft-fuzzy-catsnap3"
  private def tmpBase: java.nio.file.Path =
    java.nio.file.Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
  private lazy val processRoot: java.nio.file.Path = {
    sweepDeadProcessRoots()
    val pid = ProcessHandle.current().pid()
    val nonce = java.lang.Long.toHexString(System.nanoTime())
    val root = tmpBase.resolve(s"$SnapPrefix-$pid-$nonce")
    try java.nio.file.Files.createDirectories(root,
      java.nio.file.attribute.PosixFilePermissions.asFileAttribute(
        java.nio.file.attribute.PosixFilePermissions.fromString("rwx------")))
    catch {
      case _: UnsupportedOperationException =>
        java.nio.file.Files.createDirectories(root) // non-POSIX fs
    }
    sys.addShutdownHook {
      graft.util.Publish.deleteRecursively(root)
    }
    root
  }

  /** Best-effort reclamation of snapshot roots leaked by SIGKILL'd
    * processes (their exit hooks never ran): any `catsnap3-<pid>-*`
    * whose pid is no longer alive is dead by construction — no live
    * stream can be reading it. Errors are swallowed (another process
    * may be sweeping concurrently). */
  private def sweepDeadProcessRoots(): Unit =
    try {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.list(tmpBase)) { st =>
        st.iterator().asScala
          .filter(_.getFileName.toString.startsWith(s"$SnapPrefix-"))
          .foreach { p =>
            val parts = p.getFileName.toString.split("-")
            val alive = parts.lift(3).flatMap(s =>
              scala.util.Try(s.toLong).toOption).exists(pid =>
              ProcessHandle.of(pid).isPresent)
            if (!alive)
              try graft.util.Publish.deleteRecursively(p)
              catch { case scala.util.control.NonFatal(_) => }
          }
      }
    } catch { case scala.util.control.NonFatal(_) => }

  /** Content key of a distinct-names relation: order-free exact
    * aggregates (count, two independently-seeded xxhash64 XOR folds —
    * XOR, not sum: full-range hash values overflow an ANSI long sum,
    * and the names are distinct so XOR cancellation needs a hash
    * collision — and Σ length) folded through md5. One job, no collect
    * of the names. The FULL 128-bit digest names the dir (a truncated
    * key would make a collision serve the WRONG frozen catalog — a
    * correctness failure, and keeping all 32 hex chars is free); the
    * row count rides along so reuse can cross-check the stored
    * snapshot against the live relation ([[validSnapshot]]). */
  private def namesContentKey(
      names: DataFrame, q: Int, k: Int): (String, Long) = {
    val r = names.agg(
      count(lit(1)),
      coalesce(bit_xor(xxhash64(col("s"))), lit(0L)),
      coalesce(bit_xor(xxhash64(col("s"), lit(1L))), lit(0L)),
      coalesce(sum(length(col("s"))), lit(0L))).head()
    val raw =
      s"${r.getLong(0)}|${r.getLong(1)}|${r.getLong(2)}|${r.getLong(3)}|q=$q|k=$k"
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(raw.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (key, r.getLong(0))
  }

  private def snapDirFor(key: String): java.nio.file.Path =
    processRoot.resolve(key)

  /** Full-layout reuse check: a partially destroyed snapshot (tmp
    * cleaner) that retains `names/` but lost the generator file or the
    * deletion-path `sigs/` would otherwise pass an existence check and
    * then fail every micro-batch with no self-heal. Validates every
    * piece the generator needs plus the recorded row count against the
    * live relation's. */
  private[graft] def validSnapshot(
      dir: java.nio.file.Path, expectCount: Long): Boolean =
    try {
      if (!java.nio.file.Files.isDirectory(dir.resolve("names"))) false
      else if (!java.nio.file.Files.isRegularFile(dir.resolve("count")) ||
        new String(java.nio.file.Files.readAllBytes(dir.resolve("count")),
          "UTF-8").trim.toLong != expectCount) false
      else {
        val gen = new String(java.nio.file.Files.readAllBytes(
          dir.resolve("generator")), "UTF-8")
        gen != "deletions" ||
          java.nio.file.Files.isDirectory(dir.resolve("sigs"))
      }
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Generator decision for the STREAM: the probe distribution is
    * unknowable at construction, so the catalog's own self-pairing
    * statistics proxy the probe-vs-catalog volumes (stream probes
    * resolve against the string family the catalog is made of). Two
    * overrides: a catalog whose distinct-gram count exceeds the
    * plan-literal ceiling FORCES deletions (the gram path cannot embed
    * its df map — refusing only when k is past the deletion budget
    * too), and k > [[MaxDeletionK]] forces grams. Performance-only
    * either way — both generators are exact. */
  private def streamGenerator(frozen: DataFrame, q: Int, k: Int): String = {
    val g = gramRows(frozen, q)
    val dfTable = g.groupBy("g").agg(count(lit(1)).as("df"))
    val nGrams = dfTable.count()
    if (nGrams > MaxStreamCatalogGrams) {
      require(k <= MaxDeletionK,
        s"catalog has $nGrams distinct $q-grams — beyond the " +
          s"$MaxStreamCatalogGrams plan-literal ceiling — and k=$k is " +
          s"past the deletion generator's budget ($MaxDeletionK); " +
          "use batch matchJoin")
      "deletions"
    } else if (k > MaxDeletionK) "grams"
    else selfGenerator(frozen, prefixRows(g, dfTable, q, k), k)
  }

  /** Freeze `names` into the content-keyed snapshot cache and return
    * its root. Layout: `names/` (parquet), `generator` (text), `sigs/`
    * (parquet, deletion path only — the catalog's ≤k-deletion signature
    * index, computed ONCE here rather than re-exploded per micro-batch).
    *
    * Publication is staged + atomic-rename: the staged files are
    * RE-keyed from their own frozen bytes before the rename, so a
    * published dir's key always matches its content even if the live
    * source mutates mid-construction; a crash never leaves a partial
    * snapshot at a published key; a lost race reuses the winner (same
    * content ⟹ same deterministic layout).
    *
    * Reclamation: entries are REUSED across constructions of the same
    * catalog content — accumulation is bounded by distinct catalogs per
    * process, not by construction count — and the per-process root is
    * deleted at JVM exit by its one hook ([[processRoot]]; dead
    * processes' leaked roots are swept by PID liveness). Reuse
    * re-validates the FULL layout ([[validSnapshot]]) and re-stages on
    * any missing piece. Delete-on-query-termination (a
    * StreamingQueryListener) is deliberately NOT the mechanism: the
    * snapshot sits on the STATIC side of the stream-static join, so no
    * progress event ever names it (the query id is unknowable from
    * here), and content-sharing across concurrently live streams would
    * make per-query deletion a use-after-free for the others. */
  private[graft] def ensureSnapshot(names: DataFrame, q: Int, k: Int): String = {
    val spark = names.sparkSession
    val (liveKey, liveCount) = namesContentKey(names, q, k)
    val published = snapDirFor(liveKey)
    if (java.nio.file.Files.exists(published)) {
      if (validSnapshot(published, liveCount)) return published.toString
      // partially destroyed (tmp cleaner): self-heal by re-staging
      logWarning(s"catalog snapshot at $published failed layout " +
        "validation — deleting and re-staging")
      graft.util.Publish.deleteRecursively(published)
    }
    // staging lives under the same per-process root: guarantees the
    // publish below stays same-filesystem and the exit hook covers a
    // crashed staging dir
    val staging = java.nio.file.Files.createTempDirectory(
      processRoot, "staging-")
    val target =
      try {
        names.write.mode("overwrite")
          .parquet(staging.resolve("names").toString)
        val frozen = spark.read.parquet(staging.resolve("names").toString)
        val gen = streamGenerator(frozen, q, k)
        if (gen == "deletions")
          delSigs(frozen, k).write.mode("overwrite")
            .parquet(staging.resolve("sigs").toString)
        java.nio.file.Files.write(
          staging.resolve("generator"), gen.getBytes("UTF-8"))
        // re-keyed from the frozen bytes (see scaladoc); count rides
        // along for the reuse cross-check
        val (frozenKey, frozenCount) = namesContentKey(frozen, q, k)
        java.nio.file.Files.write(staging.resolve("count"),
          frozenCount.toString.getBytes("UTF-8"))
        snapDirFor(frozenKey)
      } catch {
        case t: Throwable =>
          graft.util.Publish.deleteRecursively(staging)
          throw t
      }
    // a lost race keeps the winner's identical copy
    graft.util.Publish.claim(staging, target)
    target.toString
  }

  /** STREAM-STATIC fuzzy match: a streaming probe column resolved
    * against a static catalog — live entity lookup at ingest. The
    * catalog is SNAPSHOTTED at stream construction into the
    * content-keyed cache ([[ensureSnapshot]]): every order source the
    * plan uses — the df map embedded as a probe-side plan literal, the
    * per-micro-batch catalog prefix index, the deletion-signature
    * index — derives from that ONE frozen copy. Without the freeze, the
    * sides would read the LIVE catalog dir independently (the literal
    * once, the static plan per micro-batch), and a catalog mutation
    * mid-stream would rank the two prefixes against DIFFERENT gram
    * orders — the no-false-negative theorem needs ONE consistent order.
    * With it, a mutated catalog dir simply keeps serving the
    * construction-time snapshot, consistently.
    *
    * ADAPTIVE GENERATION (round 13): the generator is chosen at
    * construction from the frozen catalog ([[streamGenerator]] — the
    * catalog's own pairing statistics proxy the unknowable probe
    * distribution; the choice is logged and persisted in the snapshot).
    *
    *  - GRAM path: the probe side computes its OWN prefix per row, no
    *    streaming aggregation — probe grams rank against the snapshot's
    *    df map (a plan literal bounded by [[MaxStreamCatalogGrams]]),
    *    sorted inside an array. The global order comes from the CATALOG
    *    ALONE — a stream can't be df-counted up front, and the
    *    prefix-filter theorem holds under ANY one consistent order;
    *    grams unseen in the catalog take df 0 and merely occupy prefix
    *    slots.
    *  - DELETION path (degenerate-alphabet catalogs — zero-padded ids —
    *    and catalogs past the gram-literal ceiling): the catalog's
    *    ≤k-deletion signature index is computed ONCE at construction
    *    and served from frozen parquet, so each micro-batch's static
    *    side is a plain scan whose size estimate comes from REAL file
    *    bytes (no explode fan-out for Catalyst to under-estimate — the
    *    batch path's merge hint is unnecessary here); the probe side
    *    explodes its own bounded (len+1)^k ≤k-neighborhood per row.
    *    No plan literal, no ceiling, no short-string block (signatures
    *    cover every length exactly).
    *
    * Either path ends in the same banded verify + windowed
    * (probe, candidate) dedup — bounded state, append emission on
    * watermark close; results are generator-independent.
    *
    * @return (win_start, probe, candidate, dist) per closed window */
  def matchStream(probes: DataFrame, tsCol: String, probeCol: String,
      catalog: DataFrame, catCol: String, q: Int, k: Int,
      win: String = "10 seconds", delay: String = "10 seconds"): DataFrame = {
    val spark = catalog.sparkSession
    val names = catalog.select(col(catCol).as("s"))
      .filter(col("s").isNotNull).distinct()
    val snapRoot = ensureSnapshot(names, q, k)
    val gen = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(snapRoot, "generator")), "UTF-8")
    logInfo(s"matchStream: generator=$gen snapshot=$snapRoot q=$q k=$k")
    val c = spark.read.parquet(s"$snapRoot/names")
    val pRows = probes
      .select(col(tsCol).cast("timestamp").as("__ts"),
        col(probeCol).as("s"))
      .filter(col("s").isNotNull)
      .withWatermark("__ts", delay)
    val cand =
      if (gen == "deletions") {
        val catSigs = spark.read.parquet(s"$snapRoot/sigs")
        pRows
          .select(col("__ts"), col("s"),
            explode(graft.exprs.functions
              .deletion_neighborhood(col("s"), k)).as("sig"))
          .as("a")
          .join(catSigs.as("b"),
            col("a.sig") === col("b.sig") &&
              abs(length(col("a.s")) - length(col("b.s"))) <= k)
          .select(col("__ts"), col("a.s").as("probe"),
            col("b.s").as("candidate"))
      } else {
        val cg = gramRows(c, q)
        val dfTable = cg.groupBy("g").agg(count(lit(1)).as("df"))
        val catPrefix = prefixRows(cg, dfTable, q, k)
        val catShort = c.filter(length(col("s")) <= shortLen(q, k))
        val dfRows = dfTable.collect()
        // defense in depth only: streamGenerator already reroutes
        // past-ceiling catalogs to the deletion path (or refuses at
        // k > MaxDeletionK), so a gram-path snapshot is always under it
        require(dfRows.length <= MaxStreamCatalogGrams,
          s"catalog has ${dfRows.length} distinct $q-grams — beyond the " +
            s"$MaxStreamCatalogGrams plan-literal ceiling")
        val dfLit = typedLit(
          dfRows.map(r => r.getString(0) -> r.getLong(1)).toMap)
        val probePrefix = pRows
          .withColumn("ranked", slice(array_sort(
            transform(qgrams(col("s"), q), g =>
              struct(coalesce(element_at(dfLit, g), lit(0L)).as("df"),
                g.as("g")))), 1, k * q + 1))
          .select(col("__ts"), col("s"), explode(col("ranked")).as("t"))
          .select(col("__ts"), col("s"), col("t.g").as("g"))
        val gramCand = probePrefix.as("a")
          .join(catPrefix.as("b"),
            col("a.g") === col("b.g") &&
              abs(length(col("a.s")) - length(col("b.s"))) <= k)
          .select(col("__ts"), col("a.s").as("probe"),
            col("b.s").as("candidate"))
        val shortPairs = pRows
          .filter(length(col("s")) <= shortLen(q, k)).as("a")
          .join(catShort.as("b"),
            abs(length(col("a.s")) - length(col("b.s"))) <= k)
          .select(col("__ts"), col("a.s").as("probe"),
            col("b.s").as("candidate"))
        gramCand.unionByName(shortPairs)
      }
    verify(cand, "probe", "candidate", k)
      .groupBy(window(col("__ts"), win), col("probe"), col("candidate"))
      .agg(min(col("dist")).as("dist"))
      .select(col("window.start").as("win_start"),
        col("probe"), col("candidate"), col("dist"))
  }

  /** Banded verification through the native kernel
    * ([[graft.exprs.EditDistanceOps.within]]): distance if ≤ k, else −1.
    * Spark's built-in `levenshtein(l, r, threshold)` measured ~3.4 µs per
    * pair on the sf0.1 verify hot path (10.6M candidates → 35 s); the
    * codegen'd band runs the same semantics an order of magnitude
    * faster — verification IS the fuzzy join's inner loop at scale. */
  private def verify(pairs: DataFrame, a: String, b: String, k: Int): DataFrame =
    pairs
      // long, not int: DuckDB's levenshtein is BIGINT and the driver's
      // result hash is dtype-sensitive
      .withColumn("dist",
        graft.exprs.functions.edit_distance_within(col(a), col(b), k)
          .cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= k)
}
