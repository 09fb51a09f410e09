package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable VERSIONED corpus store — generation-manifest parquet, the
  * minimal log-structured table the incremental-ingestion loop needs to
  * survive restarts (the reference keeps its whole corpus in process
  * RAM and loses inserts on rerun, `app.py:65-73,118`; the in-memory
  * evolving corpus in [[graft.streaming.Streams]] is explicitly
  * single-start — this is its on-disk completion).
  *
  * Layout under one root directory:
  * {{{
  *   <root>/gen=<N>/part-*.parquet     data files, written FIRST
  *   <root>/_manifest/<N>.json         commit record, written LAST
  *   <root>/_derived/<name>/gen=<N>/   derived sidecars (optional)
  * }}}
  *
  * The manifest write is the commit point: readers resolve a snapshot
  * from `_manifest/` alone and read exactly the committed generation
  * directories. A writer that dies after the data write but before the
  * manifest leaves an orphan `gen=` directory no reader ever sees, and
  * the next append skips past orphan ids so the directory is never
  * reused ([[nextGen]] takes the max over committed AND on-disk ids).
  *
  * Why this scales where directory listing does not: a snapshot read
  * lists `_manifest/` — O(generations) driver-side records, each a few
  * bytes — and hands Spark the exact data paths; the 100 TB of parquet
  * underneath is never enumerated to answer "what is the table now".
  * On an object store the single-manifest PUT is atomic, which is the
  * same single-small-file commit discipline Delta/Iceberg use.
  *
  * History semantics (log-structured, Delta-like):
  *   - [[append]] adds a generation; [[snapshot]] with `asOf` unions
  *     committed generations `<= asOf` — time travel to any commit;
  *   - [[upsert]] adds a generation whose keys SUPERSEDE every earlier
  *     generation's rows with the same key (merge-on-read: nothing is
  *     rewritten at commit time — the snapshot read applies the
  *     replacement). One commit = atomic: a crash leaves either the
  *     old table or the fully-upserted one, never deletes-without-rows;
  *   - [[delete]] adds a key-only TOMBSTONE generation: rows of earlier
  *     generations with those keys drop out of later snapshots. Time
  *     travel to before the tombstone still sees them. A later append
  *     of a deleted key resurrects it (generation order decides, the
  *     Delta/Iceberg merge-on-read rule);
  *   - [[compact]] rewrites the current snapshot as ONE new `base`
  *     generation — this is where tombstones and superseded upsert
  *     victims are PHYSICALLY applied (merge-on-read becomes
  *     copy-on-write, the standard maintenance trade). Content-neutral
  *     w.r.t. the merged view and history-preserving — earlier
  *     generations stay readable until [[vacuum]];
  *   - [[vacuum]] deletes data superseded by the newest base
  *     generation. Only after vacuum does `asOf` before that base
  *     fail (with an explicit error, never a silent partial read);
  *   - [[optimize]] bin-packs runs of small append generations without
  *     touching the base (Delta OPTIMIZE semantics; [[vacuumPacked]]
  *     reclaims the replaced originals);
  *   - [[changesBetween]]/[[changesSince]] read the log AS a change
  *     feed (insert/upsert/delete rows per commit, content-neutral
  *     rewrites emit nothing) — consumed by [[replicate]] (incremental
  *     pull replication) and [[IncrementalView]] (dirty-group
  *     materialized-view maintenance);
  *   - [[lookupKey]]/[[lookupKeyRange]]/[[snapshotWhere]] are the
  *     manifest-stats data-skipping reads (key bounds recorded per
  *     commit; [[pinStats]] generalizes the bounds to further integral
  *     columns; [[pinBloom]] adds a per-generation Bloom filter on the
  *     key for the hash-distributed-key shape bounds can't prune);
  *     [[history]] is the log as a DataFrame.
  *
  * Writer contract: every commit stages its data to a writer-unique
  * directory, then [[publish]] — the one publish step, used by every
  * commit site — runs these steps in this order:
  *   1. claim rename ([[claimGen]]): the staged directory becomes
  *      `gen=<N>`. Two claimants of one id: one rename wins, the loser
  *      retries at the next free id. A crash before it leaves staging
  *      garbage ([[cleanStaging]]); after it, an unpublished `gen=`
  *      orphan no reader sees and [[nextGen]] never reuses; once a
  *      newer base is committed, [[vacuum]] reclaims it.
  *   2. Bloom sidecar (with [[pinBloom]]): `_manifest/<N>.bloom`. A
  *      crash after it leaves a sidecar of an unpublished generation
  *      ([[vacuum]] reclaims it with the orphan).
  *      A published generation without one reads as "may contain".
  *   3. manifest rename: `_manifest/<N>.json`, the commit point.
  *   4. tombstone-memo population: driver memory only; a crash loses
  *      nothing a later read cannot re-collect.
  * The fused two-generation [[applyChanges]] publishes its upsert
  * generation, then its delete generation: a crash between them leaves
  * the upsert half committed, and replaying the batch converges.
  *
  * DERIVED SIDECARS ([[derived]]): a relation derived from the rows,
  * kept per generation under `<root>/_derived/<name>/gen=<N>/` — the
  * maintained-artifact form of a per-batch corpus scan (the streaming
  * admission loop keeps its text keys this way).
  *   - Contract: `derive` is a deterministic, row-local function of the
  *     rows, so a generation's sidecar is a function of immutable data
  *     and a replayed or concurrent backfill writes the same rows; the
  *     name encodes the derivation.
  *   - Writes: a missing sidecar of a live generation is backfilled on
  *     read — staged under `_staging/`, then renamed into place, so a
  *     crash leaves staging garbage ([[cleanStaging]]) or a complete
  *     sidecar, never a torn one. A store written before sidecars
  *     existed needs no migration. [[compact]] (tombstone-free window)
  *     and [[optimize]] carry their inputs' sidecars to the output by
  *     file copy; a crash before the carry leaves the output to the
  *     next read's backfill.
  *   - Tombstones: a generation merge-on-read resolves against a later
  *     tombstone generation is derived from its resolved rows at read
  *     time, never from its sidecar.
  *   - [[vacuum]] / [[vacuumPacked]] delete the sidecars of the
  *     generations they reclaim. [[snapshot]], [[commits]] and the
  *     generation-id scan never list `_derived/`.
  *
  * APPENDS are multi-writer safe: appends commute, so any interleaving
  * of claims is a correct serialization (spec-pinned with racing
  * writer threads). KEYED mutations (upsert/delete/CDC) and
  * maintenance (compact/optimize/vacuum) use the same claim protocol —
  * so they can never share a directory with a racing append — but
  * their SEMANTIC order is the merge order, so run them from one
  * coordinator (the micro-batch sequencing Structured Streaming
  * already guarantees). Readers are unrestricted.
  */
object VersionedCorpus {

  /** One committed generation, as recorded in its manifest.
    * `kind` ∈ append | base | upsert | delete | optimize; `base` is kept
    * as the boolean view of `kind == "base"` (pre-merge manifests carry
    * only the boolean and parse to append/base). `rows` is data rows
    * for append/base/upsert/optimize and tombstoned-key count for
    * delete; `rlo..rhi` is an optimize output's replaced run. */
  final case class Commit(gen: Long, rows: Long, base: Boolean,
                          kind: String = "append",
                          klo: Option[Long] = None,
                          khi: Option[Long] = None,
                          rlo: Option[Long] = None,
                          rhi: Option[Long] = None,
                          stats: Map[String, (Long, Long)] = Map.empty) {
    /** Generations whose keys kill earlier rows with the same key. */
    def tombstones: Boolean = tombstoneKind(kind)
    /** EFFECTIVE MERGE POSITION: where this generation's rows sit in
      * the tombstone-resolution order. For an [[optimize]] output it is
      * the TOP of the replaced run (`rhi`) — legal because the run is
      * contiguous appends, so every row in it has the same
      * tombstone-visibility; for everything else it is the generation
      * id itself. */
    def pos: Long = if (kind == "optimize") rhi.getOrElse(gen) else gen
    /** Manifest-stats pruning: can this generation hold `value` in the
      * pinned key column? Generations committed before the key was
      * pinned (or with a non-integral key) carry no bounds and must be
      * read — pruning is only ever an elision of provably-empty work. */
    def mayContainKey(value: Long): Boolean = mayOverlapRange(value, value)
    /** Range form of the same pruning rule: can this generation hold
      * any key in `[lo, hi]`? */
    def mayOverlapRange(lo: Long, hi: Long): Boolean = (klo, khi) match {
      case (Some(klo), Some(khi)) => klo <= hi && lo <= khi
      case _                      => true
    }
    /** Same rule over a PINNED STATS COLUMN ([[pinStats]]): commits
      * made before the pin (or whose data lacks the column) carry no
      * bounds for it and are read conservatively. */
    def mayOverlapCol(c: String, lo: Long, hi: Long): Boolean =
      stats.get(c) match {
        case Some((slo, shi)) => slo <= hi && lo <= shi
        case None             => true
      }
  }

  private def tombstoneKind(kind: String) = kind == "upsert" || kind == "delete"

  private def manifestDir(root: String) =
    java.nio.file.Paths.get(root, "_manifest")
  private def dataDir(root: String, gen: Long) =
    java.nio.file.Paths.get(root, s"gen=$gen")

  /** All committed generations, ascending. Driver-side: one listing of
    * `_manifest/`, a few bytes per generation. */
  def commits(root: String): Seq[Commit] = {
    val dir = manifestDir(root)
    if (!java.nio.file.Files.isDirectory(dir)) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer[Commit]()
    val stream = java.nio.file.Files.list(dir)
    try {
      stream.forEach { p =>
        val name = p.getFileName.toString
        // commit records are strictly <gen>.json; _schema.json and any
        // in-flight .tmp files are not commits
        if (name.matches("\\d+\\.json")) {
          val s = new String(
            java.nio.file.Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8)
          // fixed single-line shape written by us; no JSON lib needed
          def fieldOpt(k: String): Option[String] =
            (s""""$k":""" + """\s*([^,}\s]+)""").r
              .findFirstMatchIn(s).map(_.group(1).stripPrefix("\"")
                .stripSuffix("\""))
          def field(k: String): String = fieldOpt(k).getOrElse(
            sys.error(s"malformed manifest $p: missing $k"))
          val base = field("base").toBoolean
          val colStats = """"slo_([A-Za-z0-9_]+)":\s*(-?\d+)""".r
            .findAllMatchIn(s).flatMap { m =>
              fieldOpt("shi_" + m.group(1))
                .map(hi => m.group(1) -> (m.group(2).toLong, hi.toLong))
            }.toMap
          out += Commit(field("gen").toLong, field("rows").toLong, base,
            fieldOpt("kind").getOrElse(if (base) "base" else "append"),
            fieldOpt("klo").map(_.toLong), fieldOpt("khi").map(_.toLong),
            fieldOpt("rlo").map(_.toLong), fieldOpt("rhi").map(_.toLong),
            colStats)
        }
      }
    } finally stream.close()
    out.sortBy(_.gen).toSeq
  }

  /** Newest committed generation id, if any. */
  def latest(root: String): Option[Long] = commits(root).lastOption.map(_.gen)

  /** Next safe generation id: past every COMMITTED id and every on-disk
    * `gen=` directory, so an orphan directory from a crashed append is
    * never written into again. */
  private def nextGen(root: String): Long =
    math.max(latest(root).getOrElse(-1L),
      (-1L +: onDiskGens(root)).max) + 1L

  /** Ids of every `gen=` directory under `root`, committed or not. */
  private def onDiskGens(root: String): Seq[Long] = {
    val rootPath = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.isDirectory(rootPath)) return Seq.empty
    listDir(rootPath).map(_.getFileName.toString)
      .filter(_.startsWith("gen="))
      .flatMap(n => scala.util.Try(n.stripPrefix("gen=").toLong).toOption)
  }

  /** The store's schema contract, pinned at the first commit: every
    * later append must carry the same column names and types (nullability
    * and metadata are ignored — parquet round-trips legitimately flip
    * them). Without this, one mis-shaped append poisons every later
    * snapshot read with a union-of-mismatched-schemas failure — better
    * to refuse at the write, naming the divergence. */
  private def schemaFile(root: String) =
    manifestDir(root).resolve("_schema.json")

  private def shape(s: org.apache.spark.sql.types.StructType)
      : Seq[(String, String)] =
    s.fields.toSeq.map(f => (f.name, f.dataType.sql))

  /** The pinned table schema — the SOURCE OF TRUTH every snapshot read
    * uses (older generations missing later-added columns read as null,
    * exactly parquet's missing-column semantics). */
  private def pinnedSchema(root: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(
      new String(java.nio.file.Files.readAllBytes(schemaFile(root)),
        java.nio.charset.StandardCharsets.UTF_8))
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  private def writeSchemaPin(root: String,
                             s: org.apache.spark.sql.types.StructType): Unit = {
    java.nio.file.Files.createDirectories(manifestDir(root))
    java.nio.file.Files.write(schemaFile(root),
      s.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def checkOrPinSchema(root: String,
                               s: org.apache.spark.sql.types.StructType,
                               evolve: Boolean = false): Unit = {
    val f = schemaFile(root)
    if (java.nio.file.Files.exists(f)) {
      val pinned = pinnedSchema(root)
      if (shape(pinned) == shape(s)) ()
      else if (evolve) {
        // ADDITIVE-ONLY evolution (the Delta mergeSchema discipline,
        // append-at-the-end form): the incoming schema must carry every
        // pinned column unchanged, in order, with new columns appended.
        // Renames, drops, type changes, and reorders are refused — they
        // would silently re-interpret committed data.
        require(shape(s).take(pinned.length) == shape(pinned) &&
            s.length > pinned.length,
          s"additive-only schema evolution: ${shape(s).mkString(", ")} " +
            s"must extend the pinned schema ${shape(pinned).mkString(", ")} " +
            s"by appending new columns (under $root)")
        writeSchemaPin(root, s)
      } else
        require(false,
          s"append schema ${shape(s).mkString(", ")} does not match the " +
            s"store's pinned schema ${shape(pinned).mkString(", ")} under " +
            s"$root (pass evolveSchema = true for additive evolution)")
    } else writeSchemaPin(root, s)
  }

  /** The store's merge key, pinned at the first [[upsert]]/[[delete]]:
    * every later keyed commit must use the same column, and snapshot
    * reads resolve tombstones against it. One key per store — the same
    * single-merge-key discipline Delta's `MERGE ON` condition enforces
    * in practice for merge-on-read deletes. */
  private def keyFile(root: String) = manifestDir(root).resolve("_key.txt")

  private def pinnedKey(root: String): Option[String] = {
    val f = keyFile(root)
    if (!java.nio.file.Files.exists(f)) None
    else Some(new String(java.nio.file.Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8).trim)
  }

  private def checkOrPinKey(root: String, keyCol: String): Unit = {
    pinnedKey(root) match {
      case Some(k) =>
        require(k == keyCol,
          s"store under $root merges on pinned key '$k'; got '$keyCol'")
      case None =>
        // the key must be a column of the pinned data schema
        val sf = schemaFile(root)
        require(java.nio.file.Files.exists(sf),
          s"cannot pin merge key '$keyCol' before the first data commit " +
            s"under $root (no schema pinned yet)")
        val pinned = pinnedSchema(root)
        require(pinned.fieldNames.contains(keyCol),
          s"merge key '$keyCol' is not a column of the store's schema " +
            s"(${pinned.fieldNames.mkString(", ")}) under $root")
        java.nio.file.Files.createDirectories(manifestDir(root))
        java.nio.file.Files.write(keyFile(root),
          keyCol.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** Pin the EXTRA STATS COLUMNS: from now on every data commit
    * records min/max for each listed integral column in its manifest —
    * the Iceberg/Delta file-stats idea at generation granularity,
    * generalized beyond the merge key. [[snapshotWhere]] uses them to
    * skip generations whose range cannot intersect a predicate.
    * Idempotent re-pin with the same set; changing the set re-pins for
    * FUTURE commits (older manifests keep whatever they recorded —
    * pruning stays conservative). */
  def pinStats(root: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "pinStats needs at least one column")
    val sf = schemaFile(root)
    require(java.nio.file.Files.exists(sf),
      s"cannot pin stats columns before the first data commit under $root")
    val pinned = pinnedSchema(root)
    val bad = cols.filterNot(pinned.fieldNames.contains)
    require(bad.isEmpty,
      s"stats columns ${bad.mkString(", ")} are not columns of the " +
        s"store's schema under $root")
    java.nio.file.Files.createDirectories(manifestDir(root))
    java.nio.file.Files.write(statsColsFile(root),
      cols.mkString(",").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Pin a PER-GENERATION BLOOM FILTER on the merge/lookup key: from
    * now on every data and tombstone commit folds a Bloom filter over
    * `xxhash64(key)` into the one read-back aggregate it already pays
    * and publishes it as `_manifest/<gen>.bloom` before the manifest
    * rename. [[lookupKey]] then prunes generations whose filter says
    * the key is DEFINITELY absent — the pruning min/max bounds cannot
    * give when keys are hash-distributed (content fingerprints, uuid
    * longs: every generation spans the whole key domain, so range
    * pruning keeps everything; a Bloom "no" still skips the read).
    * This is Delta's bloom-filter-index idea at generation granularity.
    *
    * `expectedItems` sizes the filter — set it to the typical COMMIT
    * batch size, not the corpus (each generation gets its own filter).
    * Undersizing only raises the false-positive rate, i.e. weakens
    * pruning; a Bloom filter has no false negatives, so pruning on a
    * "no" is sound at any sizing. Pre-pin generations have no filter
    * and are always read (same conservatism as the min/max bounds). */
  def pinBloom(root: String, expectedItems: Long = 1000000L,
               fpp: Double = 0.01): Unit = {
    require(expectedItems > 0L && fpp > 0.0 && fpp < 1.0,
      s"pinBloom needs expectedItems > 0 and 0 < fpp < 1")
    require(pinnedKey(root).isDefined,
      s"pinBloom needs a pinned merge/lookup key under $root — call " +
        "pinKey(...) or make a keyed commit first")
    java.nio.file.Files.createDirectories(manifestDir(root))
    java.nio.file.Files.write(bloomPinFile(root),
      s"$expectedItems,$fpp".getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def bloomPinFile(root: String) =
    manifestDir(root).resolve("_bloom.txt")

  private def bloomParams(root: String): Option[(Long, Double)] = {
    val f = bloomPinFile(root)
    if (!java.nio.file.Files.exists(f)) None
    else {
      val parts = new String(java.nio.file.Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8).split(",")
      Some((parts(0).trim.toLong, parts(1).trim.toDouble))
    }
  }

  private def bloomFile(root: String, gen: Long) =
    manifestDir(root).resolve(s"$gen.bloom")

  /** Write the filter for `gen` (step 2 of [[publish]]) and drop any
    * cached filter loaded from the same path — a store deleted and
    * rebuilt at this root reuses its generation ids. */
  private def writeBloom(root: String, gen: Long, bytes: Array[Byte]): Unit = {
    val tmp = manifestDir(root).resolve(s".$gen.bloom.tmp")
    java.nio.file.Files.write(tmp, bytes)
    java.nio.file.Files.move(tmp, bloomFile(root, gen),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    bloomCache.remove(bloomFile(root, gen).toString)
  }

  /** Loaded filters, by path, with the identity (file key, mtime, size)
    * of the file they were read from: a filter rewritten at the same
    * path by another process is re-read, and [[writeBloom]] evicts
    * this process's own rewrites. A filter is ~1 MB at the default
    * sizing; the cap just bounds a pathological many-store driver. */
  private val bloomCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (String, org.apache.spark.util.sketch.BloomFilter)]()

  /** Driver-side probe: can generation `gen` contain `value` in the
    * pinned key? Missing filter (pre-pin commit, crash window, or the
    * store never pinned one) → conservative true. The probe hashes the
    * way the build did: Spark's `xxhash64` with its default seed, via
    * the same [[org.apache.spark.sql.catalyst.expressions.XxHash64Function]]
    * the codegen path uses (bit-parity spec-pinned). */
  private def bloomMayContain(root: String, gen: Long, value: Long): Boolean =
    bloomMayContainHash(root, gen,
      org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(
        org.apache.spark.sql.catalyst.expressions.Literal(value)), 42L)
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[Long])

  /** String-key form of the probe: hash exactly as the build's
    * `xxhash64(stringCol)` did (UTF8 bytes through the same catalyst
    * expression — bit-parity is what the lookupKeyStr ≡ filtered
    * snapshot spec pins). */
  private def bloomMayContainStr(root: String, gen: Long,
                                 value: String): Boolean =
    bloomMayContainHash(root, gen,
      org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(
        org.apache.spark.sql.catalyst.expressions.Literal.create(value,
          org.apache.spark.sql.types.StringType)), 42L)
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[Long])

  private def bloomMayContainHash(root: String, gen: Long, h: Long): Boolean = {
    val f = bloomFile(root, gen)
    val id =
      try {
        val a = java.nio.file.Files.readAttributes(f,
          classOf[java.nio.file.attribute.BasicFileAttributes])
        s"${a.fileKey}|${a.lastModifiedTime}|${a.size}"
      } catch { case _: java.nio.file.NoSuchFileException => return true }
    val hit = bloomCache.get(f.toString)
    val bf =
      if (hit != null && hit._1 == id) hit._2
      else {
        if (bloomCache.size > 4096) bloomCache.clear()
        val loaded = org.apache.spark.util.sketch.BloomFilter.readFrom(
          java.nio.file.Files.readAllBytes(f))
        bloomCache.put(f.toString, (id, loaded))
        loaded
      }
    bf.mightContainLong(h)
  }

  private def statsColsFile(root: String) =
    manifestDir(root).resolve("_stats_cols.txt")

  private def statsCols(root: String): Seq[String] = {
    val f = statsColsFile(root)
    if (!java.nio.file.Files.exists(f)) Seq.empty
    else new String(java.nio.file.Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8)
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }

  private def writeManifest(root: String, c: Commit): Unit = {
    val dir = manifestDir(root)
    java.nio.file.Files.createDirectories(dir)
    val stats = (c.klo, c.khi) match {
      case (Some(lo), Some(hi)) => s""","klo":$lo,"khi":$hi"""
      case _                    => ""
    }
    val run = (c.rlo, c.rhi) match {
      case (Some(lo), Some(hi)) => s""","rlo":$lo,"rhi":$hi"""
      case _                    => ""
    }
    val colStats = c.stats.toSeq.sortBy(_._1).map { case (n, (lo, hi)) =>
      s""","slo_$n":$lo,"shi_$n":$hi"""
    }.mkString
    val body =
      s"""{"gen":${c.gen},"rows":${c.rows},"base":${c.base},"kind":"${c.kind}"$stats$run$colStats}"""
    val tmp = dir.resolve(s".${c.gen}.json.tmp")
    java.nio.file.Files.write(tmp,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, dir.resolve(s"${c.gen}.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Run `body` on a gate session with adaptive query execution OFF
    * and the shuffle width capped at 4 ([[graft.PlanGate.withGate]]):
    * the caller's conf is never written. For DRIVER-BOUNDED maintenance
    * actions (small staged commits, fused view refreshes, dup-graph
    * labeling) where AQE's per-shuffle query-stage materialization adds
    * a scheduler-floor job per exchange but has nothing to re-plan. The
    * width cap is the other half of what AQE was doing for these plans:
    * without it, a kilobyte exchange fans over every core
    * (spark.sql.shuffle.partitions). Callers gate on a size bound
    * (≤ 256 MB of leaf scans), so 4 × ~64 MB partitions bound the
    * per-task slice; at-scale plans keep AQE and full width.
    *
    * `body` receives the session its plans must build on (or re-bind
    * to, [[graft.PlanGate.rebind]]). It runs on `spark` itself when
    * `when` is false (the caller's size gate failed) or AQE is already
    * off on `spark` — a session configured without AQE, or a nested
    * gate: that configuration measures the session's own static
    * settings, so gated actions must not re-cap its shuffle width. */
  private[graft] def withAqeOff[T](spark: SparkSession, when: Boolean = true)(
      body: SparkSession => T): T =
    if (!when || spark.conf.getOption("spark.sql.adaptive.enabled")
        .getOrElse("true") == "false") body(spark)
    else {
      val spKey = "spark.sql.shuffle.partitions"
      val width = spark.conf.getOption(spKey).flatMap(_.toIntOption)
        .fold(4)(math.min(_, 4))
      graft.PlanGate.withGate(spark, Seq(
        "spark.sql.adaptive.enabled" -> "false",
        spKey -> width.toString))(body)
    }

  /** The staged-commit write width for a SMALL input: ~16 MB of
    * estimated input per task, floor 1 — a kilobyte maintenance commit
    * writes one file instead of fanning over every core (the r15
    * 32-core store-commit regression: each staged kilobyte write paid
    * 32 tasks + 32-file generations that every later snapshot re-scans).
    * `None` when the estimate clears `smallCommitBytes` — at-scale
    * commits keep their natural parallelism. */
  private val smallCommitBytes = 64L << 20
  private def smallCommitWidth(df: DataFrame): Option[Int] = {
    val est = graft.PlanGate.planBytes(df)
    if (est > BigInt(smallCommitBytes)) None
    else Some(math.max(1L, (est.toLong >> 24) + 1L).toInt)
  }

  /** One staged generation: where its data waits for the claim, and the
    * manifest stats the staged write observed for it. `bloom` is the
    * pinned key's filter (none without a pin, or for zero rows); `keys`
    * is a tombstone kind's key set, collected for small commits only. */
  private final case class Staged(kind: String, dir: java.nio.file.Path,
                                  rows: Long,
                                  klo: Option[Long] = None,
                                  khi: Option[Long] = None,
                                  stats: Map[String, (Long, Long)] = Map.empty,
                                  bloom: Option[Array[Byte]] = None,
                                  keys: Option[Seq[Any]] = None)

  /** Stage-write `df` and collect every generation's manifest stats in
    * the SAME job — the fused commit path: row count, key bounds for
    * lookup-time generation pruning ([[lookupKey]]), every pinned stats
    * column's min/max, the pinned Bloom filter and, for tombstone kinds
    * (small commits only), the key set all ride the write as
    * `Dataset.observe` metrics (CollectMetrics accumulators), so a
    * commit pays ONE distributed pass, not the write plus a full
    * read-back aggregate scan. The observed metrics come
    * from exactly the rows the successful write produced (failed-task
    * values are not counted), which is the same truth the read-back
    * certified. Delete generations record no stats columns.
    *
    * `gens` is each generation's (kind, tag). A lone generation is
    * `df` whole, written to one staging directory (its tag is unused).
    * More generations split `df` by its `_vc_half` column: generation i
    * is the rows tagged with its tag, written by `partitionBy` to
    * `_vc_half=<tag>` under a shared staging directory, and every
    * aggregate is conditioned on the tag. Aggregates are ordered by
    * statistic, then by generation. */
  private def stageWrite(df: DataFrame, root: String,
                         gens: (String, String)*): Seq[Staged] = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, collect_set, count, lit, max, min, when, xxhash64}
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    def integral(c: String) = df.schema.fieldNames.contains(c) &&
      (df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _                                             => false
      })
    val key = pinnedKey(root).filter(df.schema.fieldNames.contains)
    val statKey = key.filter(integral)
    val pinnedStats = statsCols(root)
    val extras = pinnedStats.filter(c => integral(c) && !statKey.contains(c))
    // blooms cover integral AND string keys (xxhash64 of either); the
    // min/max bounds stay integral-only — for a string key the bloom is
    // the ONLY pruning tier, which is exactly its design case
    val bloomKey = key.filter(k =>
      integral(k) || df.schema(k).dataType == StringType)
    // small commits coalesce to a size-derived width (one file per
    // ~16 MB of input, not one per core) and run with AQE off (its
    // query-stage materialization pays a scheduler-floor job per
    // exchange with nothing to re-plan at this size); estimates above
    // the bound keep full parallelism and adaptive planning
    val width = smallCommitWidth(df)
    val split = gens.size > 1
    val gi = gens.indices
    def on(i: Int, c: Column): Column =
      if (split) when(col("_vc_half") === gens(i)._2, c) else c
    def minMax(i: Int, c: String, lo: String, hi: String) = Seq(
      (i, lo, min(on(i, col(c).cast("long")))),
      (i, hi, max(on(i, col(c).cast("long")))))
    val aggs: Seq[(Int, String, Column)] =
      gi.map(i => (i, "rows", count(on(i, lit(1))))) ++
        statKey.toSeq.flatMap(k => gi.flatMap(minMax(_, k, "klo", "khi"))) ++
        gi.filter(gens(_)._1 != "delete").flatMap(i =>
          extras.flatMap(c => minMax(i, c, "lo:" + c, "hi:" + c))) ++
        (for {
          (items, fpp) <- bloomParams(root).toSeq
          k <- bloomKey.toSeq
          i <- gi
        } yield (i, "bloom", org.apache.spark.sql.graftshim.Bridge.column(
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(
              org.apache.spark.sql.graftshim.Bridge
                .expression(on(i, xxhash64(col(k)))),
              org.apache.spark.sql.catalyst.expressions.Literal(items),
              org.apache.spark.sql.catalyst.expressions.Literal(
                org.apache.spark.util.sketch.BloomFilter
                  .optimalNumOfBits(items, fpp)))
            .toAggregateExpression()))) ++
        (for {
          k <- key.toSeq if width.isDefined
          i <- gi if tombstoneKind(gens(i)._1)
        } yield (i, "keys", collect_set(on(i, col(k)))))
    val aggCols = aggs.zipWithIndex.map { case ((_, _, c), j) => c.as(s"_m$j") }
    val staging = newStaging(root)
    val obs = new org.apache.spark.sql.Observation(
      "graft_commit_" + java.util.UUID.randomUUID())
    // the observation attaches to the frame the action runs on: a gated
    // write re-binds first, so its metrics reach the gate session
    def run(s: SparkSession): Unit = {
      val w = graft.PlanGate.rebind(s, width.fold(df)(df.coalesce))
        .observe(obs, aggCols.head, aggCols.tail: _*).write
      (if (split) w.partitionBy("_vc_half") else w)
        .mode("overwrite").parquet(staging.toString)
    }
    withAqeOff(df.sparkSession, width.isDefined)(run)
    val m = obs.get
    val got = aggs.zipWithIndex.map { case ((i, s, _), j) =>
      (i, s) -> m(s"_m$j") }.toMap
    def long(i: Int, s: String): Option[Long] = got.get((i, s)).flatMap {
      case v: java.lang.Number => Some(v.longValue)
      case _                   => None
    }
    def bounds(i: Int, lo: String, hi: String) =
      long(i, lo).zip(long(i, hi))
    gi.map { i =>
      val (kind, tag) = gens(i)
      val rows = long(i, "rows").getOrElse(0L)
      val dir = if (split) staging.resolve(s"_vc_half=$tag") else staging
      require(!split || rows == 0L || java.nio.file.Files.isDirectory(dir),
        s"fused commit: observe counted $rows '$tag' rows but the " +
          s"partitioned write produced no $dir")
      val (klo, khi) = (long(i, "klo"), long(i, "khi"))
      val stats =
        if (kind == "delete") Map.empty[String, (Long, Long)]
        else extras.flatMap(c => bounds(i, "lo:" + c, "hi:" + c).map(c -> _))
          .toMap ++
          // the merge key is also a legal stats column: reuse its bounds
          statKey.filter(pinnedStats.contains)
            .flatMap(k => bounds(i, "klo", "khi").map(k -> _))
      Staged(kind, dir, rows, klo, khi, stats,
        bloom = got.get((i, "bloom")).collect { case b: Array[Byte] => b },
        keys = got.get((i, "keys")).flatMap {
          case s: Seq[_] => Some(s.asInstanceOf[Seq[Any]])
          case null      => Some(Seq.empty[Any]) // zero-row write
          case _         => None
        })
    }
  }

  /** THE PUBLISH STEP — every commit site ends here, and only here are
    * the commit files written: claim rename → Bloom sidecar → manifest
    * rename → tombstone-memo population, the order and crash windows
    * of the object's writer contract. The manifest rename is
    * `rename(2)`, which replaces; the id is unique because the claim
    * rename won it. An empty generation is discarded (its staging
    * deleted, -1 returned) unless it is a maintenance rewrite
    * (base/optimize), which commits whatever it wrote. `run` is an
    * optimize output's replaced run. */
  private def publish(root: String, s: Staged,
                      run: Option[(Long, Long)] = None): Long = {
    if (s.rows == 0L && s.kind != "base" && s.kind != "optimize") {
      org.apache.commons.io.FileUtils.deleteDirectory(s.dir.toFile)
      return -1L
    }
    val gen = claimGen(root, s.dir)
    s.bloom.foreach(writeBloom(root, gen, _))
    writeManifest(root, Commit(gen, s.rows, base = s.kind == "base",
      kind = s.kind, klo = s.klo, khi = s.khi, rlo = run.map(_._1),
      rhi = run.map(_._2), stats = s.stats))
    s.keys.foreach(memoizeTombKeys(root, gen, _))
    gen
  }

  /** Append `df` as the next generation. Data is written before the
    * manifest commit; an empty frame commits nothing (no empty
    * generations in the log). Returns the committed generation id, or
    * -1 if `df` was empty. The count is one distributed pass; the
    * parquet write it gates is the real work, so this is not an extra
    * scan of anything large — and the row count lands in the manifest
    * where snapshot readers get it for free.
    *
    * OPTIMISTIC CONCURRENCY (appends only — they commute, so any
    * interleaving of concurrent appends is a correct serialization;
    * keyed mutations stay single-writer because THEIR order is the
    * merge order): data is staged to a writer-unique directory, the
    * generation id is claimed by an atomic directory rename (two
    * claimants: exactly one rename succeeds, the loser retries at the
    * next free id), and the manifest rename publishes the commit — it
    * replaces, and the claim rename is what makes the id unique. A
    * crash at any point leaves either staging garbage
    * ([[cleanStaging]]) or an unpublished gen= orphan; never a torn
    * commit. */
  def append(df: DataFrame, root: String,
             evolveSchema: Boolean = false): Long = {
    checkOrPinSchema(root, df.schema, evolveSchema)
    publish(root, stageWrite(df, root, "append" -> "").head)
  }

  /** A writer-unique staging directory under the store root (same
    * filesystem, so the claim rename is a true atomic rename). */
  private def newStaging(root: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(root, "_staging",
      java.util.UUID.randomUUID().toString)
    java.nio.file.Files.createDirectories(p.getParent)
    p
  }

  /** Claim a generation id by atomically renaming the staged data dir
    * into place. Two claimants of the same id: exactly one rename
    * succeeds; the loser retries at the next free id. EVERY data
    * commit goes through this (keyed mutations and maintenance too —
    * their semantic single-writer contract is about ordering, but the
    * claim keeps a concurrent append from ever sharing a directory
    * with them). */
  private def claimGen(root: String, staging: java.nio.file.Path): Long = {
    var gen = nextGen(root)
    var attempts = 0
    while (true) {
      try {
        java.nio.file.Files.move(staging, dataDir(root, gen),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        return gen
      } catch {
        // the JDK surfaces a lost rename race as EEXIST/ENOTEMPTY under
        // the generic FileSystemException (subclasses are fs-dependent):
        // if our staging directory is intact the rename simply lost —
        // take the next free id; if staging is GONE something real broke
        case e: java.nio.file.FileSystemException =>
          if (!java.nio.file.Files.isDirectory(staging)) throw e
          attempts += 1
          require(attempts < 1000,
            s"could not claim a generation id under $root after " +
              s"$attempts attempts: ${e.getMessage}")
          gen = math.max(gen + 1, nextGen(root))
      }
    }
    -1L // unreachable
  }

  /** Remove staging directories left by crashed concurrent appends and
    * by crashed [[derived]] backfills and sidecar carries.
    * Run it when no appender is active (a live writer's staging dir is
    * indistinguishable from a dead one's — the standard retention
    * caveat, made explicit instead of a timer heuristic). */
  def cleanStaging(root: String): Unit = {
    val p = java.nio.file.Paths.get(root, "_staging")
    if (java.nio.file.Files.isDirectory(p))
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
  }

  /** The commit log as a DataFrame — generation, kind, row count, key
    * bounds, replaced run (Delta's DESCRIBE HISTORY shape). Built from
    * the O(generations) driver-side manifest records. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    commits(root)
      .map(c => (c.gen, c.kind, c.rows, c.klo, c.khi, c.rlo, c.rhi))
      .toDF("gen", "kind", "rows", "key_min", "key_max",
        "packed_from", "packed_to")
  }

  /** Merge-on-read UPSERT: commit `df` as one generation whose keys
    * supersede every EARLIER generation's rows with the same `keyCol`
    * value (the generation order is the merge order — [[snapshot]]
    * applies it at read time; [[compact]] applies it physically).
    * Nothing existing is rewritten, so the commit cost is the incoming
    * batch alone — at 100 TB the alternative (rewrite every file a key
    * touches) is the copy-on-write trade this store defers to
    * compaction. Atomic: one data write + one manifest rename carries
    * both the "delete old" and "insert new" halves. Returns the
    * generation id, -1 for an empty batch. */
  def upsert(df: DataFrame, root: String, keyCol: String,
             evolveSchema: Boolean = false): Long = {
    checkOrPinSchema(root, df.schema, evolveSchema)
    checkOrPinKey(root, keyCol)
    publish(root, stageWrite(df, root, "upsert" -> "").head)
  }

  /** Merge-on-read DELETE: commit the distinct `keyCol` values of
    * `keys` as a key-only tombstone generation. Rows of earlier
    * generations with those keys vanish from later snapshots; time
    * travel to before the tombstone still sees them, and a LATER
    * append of the same key resurrects it. Deleting keys the store
    * never held is a harmless no-op at read time (the anti-join just
    * never matches). Returns the generation id, -1 for an empty key
    * set.
    *
    * `keysDistinct` — duplicates in a tombstone are semantically
    * harmless (the read-side anti-join matches sets); the dedup pass
    * exists only to bound the tombstone's SIZE, and at fixture scale
    * its exchange costs one whole extra Spark job inside the commit.
    * A caller that guarantees distinct keys (a primary-key projection,
    * a driver-deduped set) sets it and the commit is one shuffle-free
    * pass; defaults to the safe dedup. */
  def delete(keys: DataFrame, root: String, keyCol: String,
             keysDistinct: Boolean = false): Long = {
    checkOrPinKey(root, keyCol)
    val sel = keys.select(keys.col(keyCol))
    // DRIVER-HELD key sets commit driver-side (r20, fusing the
    // commit-latency family): a tombstone of keys the optimizer already
    // folded to a LocalRelation (erasure requests, driver-deduped
    // vanished-group sets) is metadata-scale — its count/bounds/Bloom
    // are exact driver arithmetic and the key file is one LocalParquet
    // sidecar write, so the commit pays ZERO Spark jobs where the
    // staged observe-write paid one scheduler-floor job per tombstone.
    // Everything downstream is byte-compatible: same file layout, same
    // manifest fields, same memo population. Distributed, typed-odd,
    // null-carrying, or over-cap key sets keep the staged write.
    localDeleteKeys(sel) match {
      case Some(vals0) =>
        val vals = if (keysDistinct) vals0 else vals0.distinct
        if (vals.isEmpty) return -1L
        val string = sel.schema.head.dataType ==
          org.apache.spark.sql.types.StringType
        val staging = newStaging(root)
        java.nio.file.Files.createDirectories(staging)
        LocalParquet.writeKeys(
          staging.resolve("part-00000-local.parquet"), keyCol, vals, string)
        val (klo, khi) =
          if (string) (None, None)
          else {
            val ls = vals.map(_.asInstanceOf[Number].longValue())
            (Some(ls.min), Some(ls.max))
          }
        val bloom = bloomParams(root).map { case (items, fpp) =>
          // the staged path's BloomFilterAggregate puts xxhash64(key)
          // with the SAME (items, bits) sizing; the hash values come
          // from a job-free fold of the expression over a LocalRelation
          // (ConvertToLocalRelation → driver-side executeCollect), so
          // probe behavior is bit-identical across both commit forms
          val bits = org.apache.spark.util.sketch.BloomFilter
            .optimalNumOfBits(items, fpp)
          val bf = org.apache.spark.util.sketch.BloomFilter
            .create(items, bits)
          val schema = new org.apache.spark.sql.types.StructType()
            .add(sel.schema.head.copy(name = keyCol))
          val local = sel.sparkSession.createDataFrame(
            java.util.Arrays.asList(
              vals.map(org.apache.spark.sql.Row(_)): _*), schema)
          local.select(org.apache.spark.sql.functions
              .xxhash64(org.apache.spark.sql.functions.col(keyCol)))
            .collect().foreach(r => bf.putLong(r.getLong(0)))
          val out = new java.io.ByteArrayOutputStream()
          bf.writeTo(out)
          out.toByteArray
        }
        publish(root, Staged("delete", staging, vals.length.toLong, klo, khi,
          bloom = bloom, keys = Some(vals)))
      case None =>
        publish(root, stageWrite(if (keysDistinct) sel else sel.distinct(),
          root, "delete" -> "").head)
    }
  }

  /** The delete keys as a driver-held value set — `Some` iff the frame
    * already folded to a LocalRelation (collect is a job-free
    * LocalTableScan), the key type is long/string (LocalParquet's
    * domain; snapshot readers read tombstones with the pinned type, so
    * an int key must keep the Spark write), the set clears the
    * tombstone-memo cap, and no key is null (a null tombstone key is
    * read-side inert but the staged write preserves it in the file and
    * the manifest count — the feed's drift guard compares those, so the
    * local form never silently drops one). */
  private def localDeleteKeys(sel: DataFrame): Option[Seq[Any]] = {
    import org.apache.spark.sql.types.{LongType, StringType}
    val typed = sel.schema.head.dataType match {
      case LongType | StringType => true
      case _                     => false
    }
    if (!typed) return None
    sel.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if lr.data.lengthCompare(tombLocalMaxRows) <= 0 =>
        val rows = sel.collect()
        if (rows.exists(_.isNullAt(0))) None
        else Some(rows.toSeq.map(_.get(0)))
      case _ => None
    }
  }

  /** CDC APPLY — one batch of keyed CHANGE rows folded into the store
    * (the Delta `foreachBatch`-MERGE recipe, merge-on-read flavor):
    * reduce the batch to the NEWEST change per key by `seqCol`
    * (last-writer-wins; ties break toward delete — the conservative
    * side for a dedup pipeline), then commit the surviving non-delete
    * rows as ONE [[upsert]] generation and the surviving delete keys
    * as ONE [[delete]] tombstone generation. `opCol` = "D" marks a
    * delete; any other value is an insert/update (they are the same
    * operation under upsert semantics). Change-log columns (`opCol`,
    * `seqCol`) are stripped before the commit, so the store schema
    * stays the data schema.
    *
    * Cost: one window pass over the BATCH (never the store) + the two
    * commits. Replaying a batch after a crash is harmless: the upsert
    * half re-replaces rows with identical content and the delete half
    * re-tombstones already-dead keys — the same at-least-once +
    * idempotent-apply contract the durable admission loop carries.
    * Across separate calls, arrival order wins (each call commits
    * later generations); `seqCol` only orders WITHIN a batch — the
    * standard foreachBatch CDC caveat.
    *
    * Returns (upsertGen, deleteGen), -1 for an empty half.
    *
    * Job economy: both halves commit through ONE staged write —
    * [[stageWrite]]'s two-generation case. The reduced batch's
    * non-delete rows (data columns) and delete keys (key column, others
    * null) write `partitionBy("_vc_half")` into a shared staging
    * directory, each half's stats ride the same pass, and the two
    * partition dirs publish as consecutive generations: one staged
    * job per batch instead of one per half. The upsert generation
    * publishes before the delete generation — a death between them
    * replays idempotently like any crashed applyChanges.
    * A delete generation's files carry the full schema with null data
    * columns; every tombstone reader selects the key column
    * explicitly, so the wider file is inert. */
  def applyChanges(batch: DataFrame, root: String, keyCol: String,
                   opCol: String, seqCol: String): (Long, Long) = {
    import org.apache.spark.sql.functions.{coalesce, col, desc, row_number, when, lit}
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(desc(seqCol),
        when(col(opCol) === "D", lit(1)).otherwise(lit(0)).desc)
    val latest = batch
      .withColumn("_vc_rn", row_number().over(w))
      .filter(col("_vc_rn") === 1).drop("_vc_rn")
    val dataFields = latest.schema.fields
      .filterNot(f => f.name == opCol || f.name == seqCol)
    checkOrPinSchema(root,
      new org.apache.spark.sql.types.StructType(dataFields), evolve = false)
    checkOrPinKey(root, keyCol)
    val isDel = coalesce(col(opCol) === "D", lit(false))
    val combined = latest.select(
      (dataFields.map(f =>
        (if (f.name == keyCol) col(f.name)
         else when(!isDel, col(f.name)).otherwise(
           lit(null).cast(f.dataType))).as(f.name)).toSeq :+
        when(isDel, lit("d")).otherwise(lit("u")).as("_vc_half")): _*)
    val Seq(u, d) = stageWrite(combined, root, "upsert" -> "u", "delete" -> "d")
    // upsert generation FIRST — the sequential form's commit order
    val gens = (publish(root, u), publish(root, d))
    org.apache.commons.io.FileUtils.deleteDirectory(u.dir.getParent.toFile)
    gens
  }

  /** Snapshot window resolution from manifests only: the newest BASE
    * generation `b <= asOf` (if any) plus every non-base generation in
    * `(b, asOf]`; with no base, every non-base `<= asOf`. A visible
    * [[optimize]] output then SUPERSEDES its replaced run — the
    * originals drop out of the window (current readers touch the
    * packed files only); time travel to before the optimize commit
    * still resolves the originals. */
  private def resolveWindow(root: String, asOf: Long): Seq[Commit] = {
    val all = commits(root)
    require(all.nonEmpty, s"no committed generations under $root")
    val visible = all.filter(_.gen <= asOf)
    require(visible.nonEmpty,
      s"asOf=$asOf predates the first commit (gen ${all.head.gen}) under $root")
    val baseGen = visible.filter(_.base).lastOption.map(_.gen)
    val window = baseGen match {
      case Some(b) => visible.filter(c => c.gen == b || (!c.base && c.gen > b))
      case None    => visible.filterNot(_.base)
    }
    val packed = window.filter(_.kind == "optimize")
    if (packed.isEmpty) window
    else window.filterNot(c => c.kind != "optimize" && packed.exists(o =>
      o.rlo.exists(_ <= c.gen) && o.rhi.exists(_ >= c.gen)))
  }

  /** Snapshot row count answered from the MANIFESTS ALONE when the
    * window is tombstone-free (append/base/optimize only): Σ recorded
    * rows, zero parquet files read, O(generations) driver-side — at
    * 100 TB a `count(*)` should not scan 100 TB, and the log already
    * knows the answer. A window containing upserts/deletes needs merge
    * resolution (an upsert's rows REPLACE an unknown number of earlier
    * rows), so it falls back to the one-pass snapshot count — honest,
    * not an estimate; run [[compact]] to restore the manifest-only
    * path. */
  def fastCount(spark: SparkSession, root: String,
                asOf: Long = Long.MaxValue): Long = {
    val window = resolveWindow(root, asOf)
    if (window.exists(_.tombstones)) snapshot(spark, root, asOf).count()
    else window.map(_.rows).sum
  }

  /** Min/max of a pinned stats column (or the merge key) answered from
    * the manifests: `Some((lo, hi, exact))` where `exact` is true for
    * tombstone-free windows (every committed row is live, so the fold
    * over per-generation bounds IS the true range) and false otherwise
    * (a tombstone may have removed the extreme row — the range is then
    * a conservative BOUND, still valid for pruning decisions). None
    * when any window generation lacks recorded bounds for the column
    * (pre-pin commits, non-integral types). Zero files read. */
  def statsRange(root: String, statCol: String,
                 asOf: Long = Long.MaxValue): Option[(Long, Long, Boolean)] = {
    val window = resolveWindow(root, asOf)
    val data = window.filter(_.kind != "delete")
    val bounds = data.map { c =>
      if (pinnedKey(root).contains(statCol)) c.klo.zip(c.khi)
      else c.stats.get(statCol)
    }
    if (bounds.isEmpty || bounds.exists(_.isEmpty)) None
    else {
      val bs = bounds.flatten
      Some((bs.map(_._1).min, bs.map(_._2).max,
        !window.exists(_.tombstones)))
    }
  }

  /** The table as of generation `asOf` (default: newest commit).
    *
    * Resolution from manifests only ([[resolveWindow]]): Spark gets
    * the explicit path list — generation dirs outside the snapshot are
    * never listed, let alone read. */
  def snapshot(spark: SparkSession, root: String,
               asOf: Long = Long.MaxValue): DataFrame =
    snapshotImpl(spark, root, asOf, resolveWindow(root, asOf), _ => true, None)

  /** PREDICATE-PRUNED SNAPSHOT over a pinned stats column
    * ([[pinStats]]): data generations whose recorded `[min, max]` for
    * `statCol` cannot intersect `[lo, hi]` are skipped entirely —
    * decided driver-side from the manifests, no footer touched — and
    * the row predicate is applied on the survivors (Catalyst pushes it
    * into the parquet scan, where row-group stats prune further).
    * Tombstone generations are always consulted (they constrain which
    * surviving rows are alive regardless of their own stats). Result ≡
    * `snapshot(...).filter(statCol BETWEEN lo AND hi)`, spec-pinned.
    * A predicate outside every generation's bounds is answered from
    * the manifests alone (empty frame, zero files read). */
  def snapshotWhere(spark: SparkSession, root: String, statCol: String,
                    lo: Long, hi: Long,
                    asOf: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.functions.col
    snapshotImpl(spark, root, asOf, resolveWindow(root, asOf),
      _.mayOverlapCol(statCol, lo, hi), Some(col(statCol).between(lo, hi)))
  }

  /** (key → max tombstone generation), the merge-on-read visibility
    * relation. Tombstone sets the MANIFESTS bound at ≤ 65536 rows
    * collect once and come back as a LocalRelation: the downstream
    * broadcast build then ships driver rows with NO query stage of its
    * own, and the distributed groupBy(max) disappears — one bounded
    * collect where the join path paid an aggregate job plus a
    * broadcast-materialization job per snapshot read. Bigger sets keep
    * the distributed aggregate (the collect bound is the same
    * driver-safety contract as NearDup.materializePairs). Join
    * semantics are identical either way — null tombstone keys never
    * equi-match, so dropping them driver-side preserves the join's
    * behavior exactly. */
  private def localTmaxFrame(spark: SparkSession, pairs: Seq[(Any, Long)],
                             keyField: org.apache.spark.sql.types.StructField)
      : DataFrame = {
    val rows: Seq[org.apache.spark.sql.Row] =
      pairs.map { case (k, g) => org.apache.spark.sql.Row(k, g) }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      new org.apache.spark.sql.types.StructType()
        .add(keyField.copy(nullable = true))
        .add("_vc_tmax", org.apache.spark.sql.types.LongType))
  }

  /** LRU memo of PER-GENERATION tombstone key sets: committed
    * generations are IMMUTABLE (a gen dir is written once and only ever
    * deleted — by vacuum, after which no window resolves to it), so
    * (root, gen, manifest-content fingerprint) fully determines a gen's
    * keys and the memo can never serve stale data. Per-gen (not
    * per-window, the r15 shape): any window over cached gens merges
    * driver-side with zero jobs, and the COMMIT paths pre-populate
    * their own gen's entry from the staged write's observe metric — a
    * mutation lifecycle then resolves tombstones without ever
    * re-collecting bytes the committer already held. Bounded at 256
    * gens × ≤ [[tombLocalMaxRows]] keys; per-invocation temp-dir stores
    * (the bench rows) age out naturally. */
  private val tombGenKeysMemo: java.util.Map[String, Seq[Any]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Seq[Any]](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Seq[Any]]): Boolean =
          size() > 256
      })

  private[sources] val tombLocalMaxRows = 65536

  /** Content fingerprint of a generation's manifest — the memo identity
    * (r15 advice: mtime+size collides on coarse-timestamp filesystems
    * when a store is deleted and rebuilt at the same path; the JSON
    * bytes are a stable identity for an immutable gen, and manifests
    * are ~hundreds of bytes so the read is driver-trivial). An
    * UNREADABLE manifest gets a per-call-unique token — it can never
    * memo-hit. */
  private def manifestFp(root: String, gen: Long): String = {
    val m = manifestDir(root).resolve(s"$gen.json")
    try {
      val bytes = java.nio.file.Files.readAllBytes(m)
      java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString
    } catch {
      case _: java.io.IOException =>
        s"!${System.identityHashCode(new Object)}:${System.nanoTime()}"
    }
  }

  private def tombMemoKey(root: String, gen: Long): String =
    s"$root|$gen@${manifestFp(root, gen)}"

  /** Commit-side memo population: the upsert/delete paths call this
    * right after the manifest rename with the key set their staged
    * write's observe metric already collected — zero extra jobs, and
    * every later [[tombMaxLocal]] over a window containing this gen
    * skips its read entirely. */
  private def memoizeTombKeys(root: String, gen: Long,
                              keys: Seq[Any]): Unit =
    if (keys.lengthCompare(tombLocalMaxRows) <= 0)
      tombGenKeysMemo.put(tombMemoKey(root, gen), keys)

  /** Driver-held MUTATED-KEY set of the (from, to] window — the union
    * of the window's upsert/delete generations' memoized key sets
    * (exactly the keys whose feed rows carry `_change_type` ≠ "insert":
    * append gens mutate nothing). `Some(keys)` iff EVERY mutating gen
    * in the window has a memo entry (its committer collected the key
    * set, and the LRU hasn't evicted it); `None` sends the caller to
    * the feed-derived path. Zero jobs either way — this is the
    * commit-side observe metric paying off a second time: the
    * incremental-view refresh can build its preimage plan WITHOUT
    * first collecting the change slice, fusing the two collects into
    * one. */
  private[graft] def windowMutatedKeys(root: String, from: Long,
                                       to: Long): Option[Seq[Any]] = {
    val muts = commits(root).filter(c => c.gen > from && c.gen <= to)
      .filter(_.tombstones)
    val sets = muts.map(c =>
      Option(tombGenKeysMemo.get(tombMemoKey(root, c.gen))))
    if (sets.exists(_.isEmpty)) None
    else Some(sets.flatMap(_.get).distinct)
  }

  /** Each key's newest tombstone generation, as a LocalRelation, for a
    * MANIFEST-BOUNDED-small tombstone window, read UNFILTERED from the
    * window's gen dirs (a pred-pruned caller gets extra never-matching
    * keys — harmless under the equi-join). Gens already in the per-gen
    * memo (a prior read, or their own commit) cost nothing; the
    * uncached remainder reads as ONE union job and back-fills the
    * memo, so a mutation lifecycle that reads the same
    * resolution window several times (preimage asOf = the previous
    * refresh's recompute asOf, replica catch-ups, repeated snapshot
    * reads) pays the collect once — or never, when the committer
    * pre-populated it. */
  private def tombMaxLocal(spark: SparkSession, root: String,
                           tombGens: Seq[Commit],
                           keyField: org.apache.spark.sql.types.StructField)
      : DataFrame = {
    val perGen = tombKeysByGen(spark, root, tombGens, keyField)
    val m = new scala.collection.mutable.HashMap[Any, Long]()
    perGen.foreach { case (g, ks) =>
      ks.foreach { k =>
        if (m.getOrElse(k, Long.MinValue) < g) m(k) = g
      }
    }
    localTmaxFrame(spark, m.toSeq, keyField)
  }

  /** The per-generation tombstone key sets of a manifest-bounded-small
    * window, driver-held — [[tombMaxLocal]]'s underlying read, exposed
    * so the merge plan can choose between the LocalRelation join and
    * the job-free static-predicate form. Memo-cached gens cost nothing;
    * the uncached remainder reads as one union job and back-fills the
    * memo. */
  private def tombKeysByGen(spark: SparkSession, root: String,
                            tombGens: Seq[Commit],
                            keyField: org.apache.spark.sql.types.StructField)
      : Map[Long, Seq[Any]] = {
    import org.apache.spark.sql.functions.{col, lit}
    val cached = tombGens.map(c =>
      c -> tombGenKeysMemo.get(tombMemoKey(root, c.gen)))
    val misses = cached.collect { case (c, null) => c }
    val perGen = scala.collection.mutable.HashMap[Long, Seq[Any]](
      cached.collect { case (c, ks) if ks != null => c.gen -> ks }: _*)
    if (misses.nonEmpty) {
      val keyOnly = new org.apache.spark.sql.types.StructType().add(keyField)
      val tombs = misses.map { c =>
        spark.read.schema(keyOnly).parquet(dataDir(root, c.gen).toString)
          .select(col(keyField.name), lit(c.gen).as("_vc_tgen"))
      }.reduce(_ unionByName _)
      val byGen = scala.collection.mutable.HashMap[Long,
        scala.collection.mutable.ArrayBuffer[Any]]()
      tombs.collect().foreach { r =>
        val k = r.get(0)
        if (k != null)
          byGen.getOrElseUpdate(r.getLong(1),
            scala.collection.mutable.ArrayBuffer.empty[Any]) += k
      }
      misses.foreach { c =>
        val ks = byGen.get(c.gen).fold(Seq.empty[Any])(_.toSeq)
        perGen(c.gen) = ks
        memoizeTombKeys(root, c.gen, ks)
      }
    }
    perGen.toMap
  }

  /** Split a window's data generations into those merge-on-read must
    * resolve against a LATER tombstone generation and the clean rest,
    * decided driver-side from the manifests alone: a data generation
    * needs resolution only if some tombstone generation committed after
    * its effective position (`pos`) has a key range that can overlap
    * its own (missing bounds → conservative). */
  private def splitByTombstones(dataGens: Seq[Commit], tombGens: Seq[Commit])
      : (Seq[Commit], Seq[Commit]) = {
    def overlaps(a: Commit, b: Commit): Boolean =
      (a.klo, a.khi, b.klo, b.khi) match {
        case (Some(alo), Some(ahi), Some(blo), Some(bhi)) =>
          alo <= bhi && blo <= ahi
        case _ => true
      }
    dataGens.partition(c => tombGens.exists(t => t.gen > c.pos && overlaps(c, t)))
  }

  /** The snapshot of `wanted` (a [[resolveWindow]] result for `asOf`),
    * restricted to the data generations `keep` accepts; tombstone
    * generations are always consulted. */
  private def snapshotImpl(spark: SparkSession, root: String, asOf: Long,
                           wanted: Seq[Commit],
                           keep: Commit => Boolean,
                           rowPred: Option[org.apache.spark.sql.Column])
      : DataFrame = {
    val dataGens = wanted.filter(c => c.kind != "delete" && keep(c))
    val tombGens = wanted.filter(_.tombstones)
    val paths = (dataGens ++ tombGens).map(c => dataDir(root, c.gen).toString)
    val missing = paths.filterNot(p =>
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p)))
    require(missing.isEmpty,
      s"asOf=$asOf needs vacuumed generations: ${missing.mkString(", ")} " +
        "(history before the newest base generation was dropped by vacuum)")
    if (dataGens.isEmpty && rowPred.isDefined)
      // every data generation's bounds exclude the predicate: provably
      // empty, answered from the manifests alone
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        pinnedSchema(root))
    require(dataGens.nonEmpty,
      s"asOf=$asOf resolves to tombstone-only generations under $root")
    // every read uses the PINNED schema explicitly: it is the table's
    // source of truth under additive evolution (generations written
    // before a column existed read it as null — parquet's
    // missing-column semantics — instead of the first-listed file's
    // schema deciding which columns exist)
    val pinned = pinnedSchema(root)
    val out = if (tombGens.isEmpty)
      // fast path, unchanged from the append-only store: ONE multi-path
      // parquet relation, no merge plan at all
      spark.read.schema(pinned)
        .parquet(dataGens.map(c => dataDir(root, c.gen).toString): _*)
    else {
      // merge-on-read: a row of generation g survives iff no
      // upsert/delete of its key committed AFTER g inside the snapshot
      // window — i.e. g >= max(tombstone gen for that key). Two
      // scale decisions, both driver-side from the manifests alone:
      //   1. GEN-LEVEL SKIP — a data generation needs tombstone
      //      resolution only if some LATER tombstone generation's key
      //      range can overlap its own (manifest min/max; missing
      //      bounds → conservative). The common log shape — a stream
      //      of appends with occasional old-range mutations — sends
      //      most generations down the join-free fast scan.
      //   2. ONE PARTITIONED SCAN for the rest: the gen=N layout IS a
      //      hive partition scheme, so the merging generations read as
      //      a single basePath relation with the generation as a
      //      partition column — not a union of per-directory plans.
      // The tombstone side is delete-sized, not corpus-sized; its
      // exact row total is already in the manifests, so small sets
      // take the broadcast join explicitly and big ones fall back to
      // the shuffle join AQE would plan anyway.
      import org.apache.spark.sql.functions.{broadcast, col, lit, max}
      val key = pinnedKey(root).getOrElse(sys.error(
        s"tombstone generations exist under $root but no merge key is " +
          "pinned — the manifest directory is corrupt"))
      val pinnedFields = pinned.fieldNames.toSeq
      require(!pinnedFields.exists(n => n == "_vc_gen" || n == "_vc_tmax"),
        "store schema uses the reserved column names _vc_gen/_vc_tmax")
      // NOTE: tombstone visibility compares against the EFFECTIVE
      // position (`pos`) — for optimize outputs that is the top of the
      // replaced run, so a delete committed after the run but before
      // the optimize still kills the packed rows
      val (mergeGens, cleanGens) = splitByTombstones(dataGens, tombGens)
      val clean =
        if (cleanGens.isEmpty) None
        else Some(spark.read.schema(pinned).parquet(
          cleanGens.map(c => dataDir(root, c.gen).toString): _*))
      val merged = if (mergeGens.isEmpty) None else {
        // optimize outputs live in dir gen=N but merge at pos=rhi:
        // remap the partition-derived generation through the (tiny,
        // driver-known) gen→pos map
        val posRemap = mergeGens.filter(c => c.pos != c.gen)
          .map(c => (c.gen, c.pos)).toMap
        def reposition(df: DataFrame): DataFrame =
          if (posRemap.isEmpty) df
          else df.withColumn("_vc_gen",
            posRemap.foldLeft(col("_vc_gen")) { case (e, (g, p)) =>
              org.apache.spark.sql.functions
                .when(col("_vc_gen") === lit(g), lit(p)).otherwise(e)
            })
        val data = reposition(
          if (pinnedFields.contains("gen"))
            // partition-column name collision with a data column: fall
            // back to the explicit per-generation union
            mergeGens.map { c =>
              spark.read.schema(pinned)
                .parquet(dataDir(root, c.gen).toString)
                .withColumn("_vc_gen", lit(c.gen))
            }.reduce(_ unionByName _)
          else spark.read.schema(pinned).option("basePath", root)
            .parquet(mergeGens.map(c => dataDir(root, c.gen).toString): _*)
            .withColumn("_vc_gen", col("gen").cast("long")).drop("gen"))
        // one schema-pruned partitioned scan over ALL tombstone
        // generations (upsert gens contribute just their key column —
        // parquet column pruning — and delete gens are key-only
        // already); the gen partition column is the tombstone's
        // generation, appended automatically since it is not in the
        // user schema
        val keyType = pinned(key).dataType
        val tombs =
          if (pinnedFields.contains("gen"))
            tombGens.map { c =>
              spark.read.parquet(dataDir(root, c.gen).toString)
                .select(col(key)).withColumn("_vc_tgen", lit(c.gen))
            }.reduce(_ unionByName _)
          else spark.read
            .schema(new org.apache.spark.sql.types.StructType()
              .add(key, keyType))
            .option("basePath", root)
            .parquet(tombGens.map(c => dataDir(root, c.gen).toString): _*)
            .withColumn("_vc_tgen", col("gen").cast("long")).drop("gen")
        val totalTombRows = tombGens.map(_.rows).sum
        // TINY tombstone window (≤ the IN-list planning budget): the
        // resolution becomes a STATIC predicate instead of a join — a
        // row of generation g dies iff some tombstone gen t > g holds
        // its key, so with the per-gen key sets driver-held (memo or
        // one union read) the whole merge is
        //   NOT (OR over tomb gens t: _vc_gen < t AND key IN keys(t))
        // null-guarded (coalesce) to match the left-join's
        // survive-on-null-key semantics. No join operator, no broadcast
        // build, no per-read future job (the r17 job audit: every
        // LocalRelation broadcast still pays a 1-task scheduler-floor
        // job) — the resolution folds into the scan's filter instead of
        // materializing a build side per read. Bigger windows keep the
        // LocalRelation broadcast join; manifest-big ones the
        // distributed aggregate.
        val inListBudget = 1000L
        val merged0 =
          if (totalTombRows <= inListBudget) {
            val perGen = tombKeysByGen(spark, root, tombGens, pinned(key))
              .filter(_._2.nonEmpty)
            val kill = perGen.toSeq.sortBy(_._1).map { case (g, ks) =>
              col("_vc_gen") < lit(g) &&
                col(key).isin(ks.toIndexedSeq: _*)
            }.reduceOption(_ || _)
            kill.fold(data)(k =>
              data.filter(!org.apache.spark.sql.functions
                .coalesce(k, lit(false))))
          } else {
            val tmax =
              if (totalTombRows <= 65536L)
                tombMaxLocal(spark, root, tombGens, pinned(key))
              else tombs.groupBy(col(key))
                .agg(max(col("_vc_tgen")).as("_vc_tmax"))
            val tmaxSized =
              if (totalTombRows <= 4000000L) broadcast(tmax) else tmax
            data.join(tmaxSized, Seq(key), "left")
              .filter(col("_vc_tmax").isNull || col("_vc_gen") >= col("_vc_tmax"))
          }
        Some(merged0.select(pinnedFields.map(col): _*))
      }
      (clean, merged) match {
        case (Some(c), Some(m)) => c.select(pinnedFields.map(col): _*)
          .unionByName(m)
        case (Some(c), None)    => c
        case (None, Some(m))    => m
        case (None, None)       => sys.error("unreachable: dataGens nonEmpty")
      }
    }
    // the row predicate of snapshotWhere: applied once at the top —
    // Catalyst pushes it through the union / merge join down to the
    // parquet scans (PushedFilters), where row-group stats prune inside
    // the generations the manifest stats could not skip
    rowPred.fold(out)(out.filter)
  }

  private def derivedDir(root: String) =
    java.nio.file.Paths.get(root, "_derived")
  private def sidecarDir(root: String, name: String, gen: Long) =
    derivedDir(root).resolve(name).resolve(s"gen=$gen")

  /** DERIVED SIDECARS — `derive` of the current snapshot, kept on disk
    * one generation at a time (see the object header). Every live data
    * generation without a `_derived/<name>/gen=<N>` gets one first: ONE
    * job stages `derive(generation rows)` of all of them and each is
    * renamed into place. The result is one scan over the live sidecars,
    * unioned with `derive` of the resolved rows of every generation
    * merge-on-read resolves against a later tombstone — those are never
    * read from a sidecar, so a deleted row stops contributing exactly as
    * it stops appearing in [[snapshot]]. Row for row, the result is
    * `derive(snapshot(spark, root))`.
    *
    * `derive` must be a deterministic, row-local function of the rows
    * (projections, row-local expressions, explodes — no aggregate, join
    * or window), and `name` must change whenever `derive` does: a
    * sidecar is read back under its name alone. */
  def derived(spark: SparkSession, root: String, name: String,
              derive: DataFrame => DataFrame): DataFrame = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9_.=-]*"),
      s"derived relation name '$name' must match [A-Za-z0-9][A-Za-z0-9_.=-]*")
    val window = resolveWindow(root, Long.MaxValue)
    val dataGens = window.filter(_.kind != "delete")
    require(dataGens.nonEmpty,
      s"the snapshot under $root resolves to tombstone-only generations")
    val (merge, clean) = splitByTombstones(dataGens, window.filter(_.tombstones))
    val pinned = pinnedSchema(root)
    def rows(c: Commit) = spark.read.schema(pinned).parquet(dataDir(root, c.gen).toString)
    val missing = clean.filterNot(c =>
      java.nio.file.Files.isDirectory(sidecarDir(root, name, c.gen)))
    if (missing.nonEmpty) {
      import org.apache.spark.sql.functions.lit
      val staging = newStaging(root)
      missing.map(c => derive(rows(c)).withColumn("_vc_gen", lit(c.gen)))
        .reduce(_ unionByName _)
        .write.partitionBy("_vc_gen").parquet(staging.toString)
      // a generation with no derived rows gets an empty sidecar
      missing.foreach(c => placeSidecar(
        java.nio.file.Files.createDirectories(staging.resolve(s"_vc_gen=${c.gen}")),
        sidecarDir(root, name, c.gen)))
      org.apache.commons.io.FileUtils.deleteDirectory(staging.toFile)
    }
    val schema = derive(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], pinned)).schema
    val stored = if (clean.isEmpty) None else Some(spark.read.schema(schema)
      .parquet(clean.map(c => sidecarDir(root, name, c.gen).toString): _*))
    val resolved = if (merge.isEmpty) None else Some(derive(
      snapshotImpl(spark, root, Long.MaxValue, window, merge.contains, None)))
    (stored ++ resolved).reduce(_ unionByName _)
  }

  /** Rename a complete staged sidecar into place. Losing the rename to
    * a concurrent backfill is fine: that one holds the same rows. */
  private def placeSidecar(staged: java.nio.file.Path,
                           to: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(to.getParent)
    try java.nio.file.Files.move(staged, to,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.nio.file.FileSystemException =>
        if (!java.nio.file.Files.isDirectory(to)) throw e
        org.apache.commons.io.FileUtils.deleteDirectory(staged.toFile)
    }
  }

  /** The sidecar carry step of [[compact]] and [[optimize]]: `out` holds
    * exactly the rows of the generations `inputs`, so for every name all
    * of them have a sidecar of, `out`'s sidecar is their files, copied —
    * no Spark job. A name some input lacks is left to the next
    * [[derived]] read, which backfills it. */
  private def carrySidecars(root: String, inputs: Seq[Commit], out: Long): Unit =
    for {
      name <- sidecarNames(root)
      if inputs.forall(c =>
        java.nio.file.Files.isDirectory(sidecarDir(root, name, c.gen)))
    } {
      val staging = java.nio.file.Files.createDirectories(newStaging(root))
      for {
        c <- inputs
        f <- listDir(sidecarDir(root, name, c.gen))
        n = f.getFileName.toString
        if !n.startsWith(".") && !n.startsWith("_")
      } java.nio.file.Files.copy(f, staging.resolve(s"g${c.gen}-$n"))
      placeSidecar(staging, sidecarDir(root, name, out))
    }

  /** The names of the derived relations kept under `root`. */
  private def sidecarNames(root: String): List[String] =
    if (!java.nio.file.Files.isDirectory(derivedDir(root))) Nil
    else listDir(derivedDir(root)).map(_.getFileName.toString)

  private def listDir(p: java.nio.file.Path): List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.list(p)
    try st.iterator().asScala.toList finally st.close()
  }

  /** CHANGE DATA FEED, read side — the log IS the feed: every commit
    * already records exactly which rows entered (append/upsert data
    * files) or which keys died (delete tombstones), so the change rows
    * for the generation window `(fromGen, toGen]` are a bare union of
    * the window's own files with two literal columns stapled on —
    * no join, no shuffle, no read of anything outside the window. This
    * is the read twin of [[applyChanges]] (Delta CDF's shape, built
    * from the log structure instead of extra change files):
    *
    *   - append generation  → its rows as `_change_type = "insert"`
    *   - upsert generation  → its rows as `_change_type = "upsert"`
    *     (insert-vs-update is not distinguished: the log does not
    *     record whether the key existed, and the downstream apply
    *     treats them identically — documented simplification)
    *   - delete generation  → its KEYS as `_change_type = "delete"`,
    *     data columns null (the tombstone is key-only by design; a
    *     preimage would cost a read of the pre-delete snapshot, which
    *     the feed deliberately never does)
    *   - base generation    → NO change rows (compaction is a
    *     content-neutral rewrite, exactly Delta's OPTIMIZE-emits-no-CDF
    *     rule) — but a base inside the window still proves the earlier
    *     history wasn't vacuumed away (checked below).
    *
    * `_commit_gen` carries the generation id — the feed's total order
    * and the replay cursor. Feeding the change rows back through
    * [[applyChanges]] (op = `_change_type`, seq = `_commit_gen`,
    * "delete" → D) reconstructs the source snapshot — the replication
    * loop [[replicate]] does precisely that, and the spec pins
    * replica ≡ source across the full mutation lifecycle.
    *
    * Scale: cost is proportional to the CHANGE window, never the
    * corpus — the property that makes downstream incremental consumers
    * (index maintenance, replicas, feature refresh) O(new data) at
    * 100 TB. Vacuumed windows fail loudly, never silently truncate. */
  def changesBetween(spark: SparkSession, root: String,
                     fromGen: Long, toGen: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val all = commits(root)
    require(all.nonEmpty, s"no committed generations under $root")
    val window = all.filter(c => c.gen > fromGen && c.gen <= toGen)
    val pinned = pinnedSchema(root)
    require(!pinned.fieldNames.exists(n =>
        n == "_change_type" || n == "_commit_gen"),
      "store schema uses the reserved column names _change_type/_commit_gen")
    // base AND optimize generations are content-neutral rewrites —
    // no change rows (their inputs already emitted theirs when they
    // committed)
    val changeGens = window.filterNot(c => c.base || c.kind == "optimize")
    val missing = changeGens.map(c => dataDir(root, c.gen))
      .filterNot(java.nio.file.Files.isDirectory(_))
    require(missing.isEmpty,
      s"change window ($fromGen, $toGen] needs vacuumed generations: " +
        s"${missing.mkString(", ")} — the feed cannot silently skip " +
        "history (advance the cursor past the vacuumed range explicitly)")
    val empty = {
      val s = new org.apache.spark.sql.types.StructType(
        (pinned.fields.map(_.copy(nullable = true)) :+
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType) :+
          org.apache.spark.sql.types.StructField("_commit_gen",
            org.apache.spark.sql.types.LongType)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[
        org.apache.spark.sql.Row], s)
    }
    if (changeGens.isEmpty) return empty
    val key = pinnedKey(root)
    val (delGens, dataGens) = changeGens.partition(_.kind == "delete")
    // at most TWO scans regardless of window length (a 10k-generation
    // backlog must not become a 10k-relation union plan): the gen=N
    // layout is a hive partition scheme, so each side reads as ONE
    // basePath relation and the per-row commit generation comes from
    // the partition column; the generation→label map rides in as a
    // single typedlit literal. The per-generation union survives only
    // for the "gen" column-name collision, as in [[snapshot]].
    import org.apache.spark.sql.functions.{element_at, typedlit}
    def labeled(gens: Seq[Commit], schema: org.apache.spark.sql.types.StructType,
                label: Commit => String): DataFrame =
      if (pinned.fieldNames.contains("gen"))
        gens.map { c =>
          spark.read.schema(schema).parquet(dataDir(root, c.gen).toString)
            .withColumn("_change_type", lit(label(c)))
            .withColumn("_commit_gen", lit(c.gen))
        }.reduce(_ unionByName _)
      else {
        val labels = typedlit(gens.map(c => c.gen -> label(c)).toMap)
        spark.read.schema(schema).option("basePath", root)
          .parquet(gens.map(c => dataDir(root, c.gen).toString): _*)
          .withColumn("_commit_gen", col("gen").cast("long")).drop("gen")
          .withColumn("_change_type", element_at(labels, col("_commit_gen")))
      }
    val dataPart =
      if (dataGens.isEmpty) None
      else Some(labeled(dataGens, pinned,
        c => if (c.kind == "upsert") "upsert" else "insert"))
    val delPart =
      if (delGens.isEmpty) None
      else {
        val k = key.getOrElse(sys.error(
          s"delete generations under $root but no merge key pinned — " +
            "the manifest directory is corrupt"))
        Some(labeled(delGens,
          new org.apache.spark.sql.types.StructType().add(pinned(k)),
          _ => "delete"))
      }
    // the delete side carries only (key, _change_type, _commit_gen);
    // allowMissingColumns null-fills its data columns, and the final
    // select pins the declared column order. A DELETE-ONLY window has
    // no data part to union against, so its missing data columns are
    // null-filled explicitly — without this the final select failed to
    // resolve them (latent until r20: every exercised window happened
    // to contain a data generation)
    val joined = (dataPart.toSeq ++ delPart.toSeq)
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val filled = pinned.fields.foldLeft(joined)((df, f) =>
      if (df.columns.contains(f.name)) df
      else df.withColumn(f.name, lit(null).cast(f.dataType)))
    filled.select(
      (pinned.fieldNames.toSeq :+ "_change_type" :+ "_commit_gen")
        .map(col): _*)
  }

  /** [[changesBetween]] from a cursor to the newest commit, returning
    * the feed plus the cursor value that consuming it advances to.
    * `(feed, newCursor)` with `newCursor == sinceGen` means no new
    * commits (the feed is empty). */
  def changesSince(spark: SparkSession, root: String,
                   sinceGen: Long): (DataFrame, Long) = {
    val to = latest(root).getOrElse(
      sys.error(s"no committed generations under $root"))
    if (to <= sinceGen) (changesBetween(spark, root, to), sinceGen)
    else (changesBetween(spark, root, sinceGen, to), to)
  }

  /** Durable cursor for an incremental feed consumer: the last
    * generation id fully processed, stored as one small file whose
    * atomic rename is the consumer's commit point. Missing file =
    * consume from the beginning. */
  def readCursor(cursorFile: String): Long = {
    val p = java.nio.file.Paths.get(cursorFile)
    if (!java.nio.file.Files.exists(p)) -1L
    else new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLong
  }

  def writeCursor(cursorFile: String, gen: Long): Unit = {
    val p = java.nio.file.Paths.get(cursorFile)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val tmp = p.resolveSibling("." + p.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp,
      gen.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** INCREMENTAL PULL REPLICATION — the end-to-end consumer the feed
    * exists for: fold every source change since the cursor into the
    * replica store via [[applyChanges]] (op = `_change_type`, seq =
    * `_commit_gen`), then advance the cursor. Each pull costs O(new
    * generations), never O(source corpus).
    *
    * Crash contract (at-least-once + idempotent apply, the same pair
    * the durable admission loop carries): a death AFTER the apply but
    * BEFORE the cursor write replays the window on restart — harmless,
    * because [[applyChanges]] re-upserts identical content and
    * re-tombstones already-dead keys. Within one pulled window the
    * feed collapses to the newest change per key (seq = generation
    * order), which is exactly the source's own merge-on-read
    * resolution, so replica snapshot ≡ source snapshot at every
    * cursor point — property-pinned in VersionedCorpusSpec across
    * upserts, deletes, resurrections, and a mid-feed compaction.
    *
    * Contract: the source must follow keyed discipline — at most one
    * row per key per commit (what [[applyChanges]]-fed and upsert-fed
    * stores have by construction). A commit carrying duplicate keys
    * keeps all of them in the SOURCE snapshot but collapses to the
    * feed's newest-per-key on the replica; refusing that shape is the
    * apply side's last-writer-wins semantics, not data loss.
    *
    * Returns the new cursor (unchanged when the source has nothing
    * new; no empty commits land on the replica). */
  def replicate(spark: SparkSession, srcRoot: String, dstRoot: String,
                keyCol: String, cursorFile: String): Long = {
    import org.apache.spark.sql.functions.{col, when, lit}
    val from = readCursor(cursorFile)
    if (latest(srcRoot).forall(_ <= from)) return from
    val (feed, to) = changesSince(spark, srcRoot, from)
    if (to == from) return from
    applyChanges(
      feed.withColumn("_change_type",
        when(col("_change_type") === "delete", lit("D"))
          .otherwise(col("_change_type"))),
      dstRoot, keyCol, "_change_type", "_commit_gen")
    writeCursor(cursorFile, to)
    to
  }

  /** Pin the merge/lookup key up front (normally it is pinned by the
    * first [[upsert]]/[[delete]]) so that every append from now on
    * records key bounds in its manifest — the earlier the pin, the
    * more generations [[lookupKey]] can prune. Requires a first data
    * commit (the key must be a column of the pinned schema). */
  def pinKey(root: String, keyCol: String): Unit =
    checkOrPinKey(root, keyCol)

  /** POINT LOOKUP with manifest-stats generation pruning — the
    * data-skipping read path the log-structured layout makes nearly
    * free: every keyed commit records its key min/max in its manifest
    * (one extra aggregate folded into the read-back the commit already
    * pays), so a lookup consults O(generations) driver-side records
    * and READS only the generations whose range can hold the key —
    * at 100 TB with time-ordered keys that is typically one or two
    * directories out of thousands, decided without touching a single
    * parquet footer (the Delta/Iceberg file-stats idea, applied at
    * generation granularity). Pruning is conservative: pre-pin or
    * non-integral-key generations carry no bounds and are always read.
    * Tombstone generations prune the same way — a delete whose range
    * excludes the key cannot affect it.
    *
    * With [[pinBloom]], range-surviving generations are additionally
    * probed against their per-generation Bloom filter — the pruning
    * tier that still works when keys are hash-distributed and every
    * generation's min/max spans the whole domain. A Bloom "no" is
    * definite, so the elision is as sound as the bounds check.
    *
    * Result ≡ `snapshot(spark, root, asOf).filter(key === value)`
    * (property-pinned in VersionedCorpusSpec), including merge-on-read
    * semantics across upserts/deletes/resurrections. */
  def lookupKey(spark: SparkSession, root: String, value: Long,
                asOf: Long = Long.MaxValue): DataFrame =
    keyedRead(spark, root, asOf,
      c => c.mayContainKey(value) && bloomMayContain(root, c.gen, value),
      k => k === org.apache.spark.sql.functions.lit(value))

  /** [[lookupKey]] for a STRING merge key (content fingerprints, url
    * hashes, uuids — the key shapes that are never range-clustered).
    * String keys carry no min/max bounds, so without [[pinBloom]] this
    * reads every generation; with it, the per-generation Bloom filter
    * is the pruning tier — typically one or two "maybe" generations
    * out of thousands, decided driver-side. Result ≡
    * `snapshot(...).filter(key === value)` (spec-pinned), including
    * merge-on-read resolution. */
  def lookupKeyStr(spark: SparkSession, root: String, value: String,
                   asOf: Long = Long.MaxValue): DataFrame =
    keyedRead(spark, root, asOf,
      c => bloomMayContainStr(root, c.gen, value),
      k => k === org.apache.spark.sql.functions.lit(value))

  /** RANGE SCAN with the same manifest-stats generation pruning as
    * [[lookupKey]]: read only the generations whose key bounds can
    * intersect `[lo, hi]`. The time-ordered-key ingestion shape makes
    * this the dominant read at scale — "last week's documents" touches
    * the handful of generations whose bounds overlap the week, decided
    * driver-side from O(generations) manifest records. Result ≡
    * `snapshot(...).filter(key BETWEEN lo AND hi)` (property-pinned in
    * VersionedCorpusSpec), including merge-on-read resolution. */
  def lookupKeyRange(spark: SparkSession, root: String, lo: Long, hi: Long,
                     asOf: Long = Long.MaxValue): DataFrame =
    keyedRead(spark, root, asOf, _.mayOverlapRange(lo, hi),
      k => k.between(lo, hi))

  private def keyedRead(spark: SparkSession, root: String, asOf: Long,
                        touch: Commit => Boolean,
                        pred: org.apache.spark.sql.Column
                          => org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, max}
    val key = pinnedKey(root).getOrElse(sys.error(
      s"no merge/lookup key pinned under $root — call pinKey(...) or " +
        "make a keyed commit first"))
    val window = resolveWindow(root, asOf)
    val dataC = window.filter(c => c.kind != "delete" && touch(c))
    val tombC = window.filter(c => c.tombstones && touch(c))
    // the local tombstone resolution below reads the whole window's
    // tombstones (same dirs snapshotImpl consults), so the vacuum
    // guard covers them too
    val allTombsGuard = window.filter(_.tombstones)
    val missing = (dataC ++ allTombsGuard)
      .map(c => dataDir(root, c.gen).toString)
      .distinct.filterNot(p =>
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p)))
    require(missing.isEmpty,
      s"asOf=$asOf needs vacuumed generations: ${missing.mkString(", ")} " +
        "(history before the newest base generation was dropped by vacuum)")
    val pinned = pinnedSchema(root)
    if (dataC.isEmpty) {
      // every generation's bounds exclude the predicate: provably absent,
      // answered from the manifests alone (zero files read)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], pinned)
    }
    val data = dataC.map { c =>
      spark.read.schema(pinned).parquet(dataDir(root, c.gen).toString)
        .filter(pred(col(key)))
        .withColumn("_vc_gen", lit(c.pos))
    }.reduce(_ unionByName _)
    if (tombC.isEmpty) data.drop("_vc_gen")
    else {
      val keyOnly = new org.apache.spark.sql.types.StructType()
        .add(pinned(key))
      // the LOCAL path resolves the UNFILTERED window (all tombstone
      // gens, no touch/pred pruning): keys outside the lookup band
      // never equi-match the pred-filtered data side, and keying the
      // memo by the whole window means a snapshot read and a later
      // lookup at the same asOf SHARE one resolution (the mutation
      // lifecycles read the same window several times — recompute at
      // asOf=N, then next wave's preimage at asOf=N)
      val allTombs = allTombsGuard
      val totalTombRows = allTombs.map(_.rows).sum
      val tmax =
        if (totalTombRows <= 65536L)
          tombMaxLocal(spark, root, allTombs, pinned(key))
        else tombC.map { c =>
          spark.read.schema(keyOnly).parquet(dataDir(root, c.gen).toString)
            .filter(pred(col(key)))
            .withColumn("_vc_tgen", lit(c.gen))
        }.reduce(_ unionByName _)
          .groupBy(col(key)).agg(max(col("_vc_tgen")).as("_vc_tmax"))
      val outCols = data.columns.filter(_ != "_vc_gen").map(col).toSeq
      data.join(broadcast(tmax), Seq(key), "left")
        .filter(col("_vc_tmax").isNull || col("_vc_gen") >= col("_vc_tmax"))
        .select(outCols: _*)
    }
  }

  /** Rewrite the CURRENT snapshot as one new base generation.
    * Content-neutral (asserted by the oracle-checked round trip) and
    * history-preserving — earlier generations remain readable for time
    * travel until [[vacuum]]. Returns the base generation id.
    *
    * `sortByKey = true` (requires a pinned key) range-partitions and
    * sorts the base by the key — the data-layout half of the lookup
    * story: base files get DISJOINT key ranges and sorted row groups,
    * so parquet's own min/max stats prune point lookups inside the
    * base generation the same way the manifest bounds prune across
    * generations. The standard compaction-time clustering trade
    * (Delta OPTIMIZE ZORDER, single-key form): pay one extra shuffle
    * at maintenance time, every later keyed read gets cheaper. */
  def compact(spark: SparkSession, root: String,
              sortByKey: Boolean = false): Long = {
    import org.apache.spark.sql.functions.col
    val window = resolveWindow(root, Long.MaxValue)
    val snap0 = snapshotImpl(spark, root, Long.MaxValue, window, _ => true, None)
    val snap =
      if (!sortByKey) snap0
      else {
        val key = pinnedKey(root).getOrElse(sys.error(
          s"sortByKey compaction needs a pinned merge/lookup key under " +
            s"$root — call pinKey(...) or make a keyed commit first"))
        snap0.repartitionByRange(col(key)).sortWithinPartitions(col(key))
      }
    val base = publish(root, stageWrite(snap, root, "base" -> "").head)
    // without a tombstone the base holds exactly the window's rows
    if (!window.exists(_.tombstones)) carrySidecars(root, window, base)
    base
  }

  /** [[compact]] when the tail of small generations has grown past
    * `every` commits since the last base (or since the start) — the
    * maintenance valve an unattended ingestion loop needs: without it a
    * long-lived stream accretes one small parquet directory per batch,
    * and at scale the snapshot read fans out over thousands of tiny
    * files. With `vacuumAfter` the superseded tail is reclaimed too
    * (trading pre-base time travel for space, the standard retention
    * decision). No-op (`None`) while the tail is short. */
  def maybeCompact(spark: SparkSession, root: String, every: Int,
                   vacuumAfter: Boolean = false): Option[Long] = {
    if (every <= 0) return None
    val all = commits(root)
    val sinceBase = all.reverse.takeWhile(!_.base).size
    if (sinceBase < every) None
    else {
      val g = compact(spark, root)
      if (vacuumAfter) vacuum(root)
      Some(g)
    }
  }

  /** BIN-PACKING SMALL-FILE COMPACTION (Delta OPTIMIZE semantics,
    * without ZORDER): rewrite each maximal run of ≥2 consecutive SMALL
    * plain-append generations (≤ `smallRows` rows each) as ONE packed
    * generation, and leave everything else — the base, big appends,
    * and every keyed mutation — untouched. This is the maintenance
    * valve [[compact]] is too blunt for at scale: a streaming ingestion
    * loop accretes thousands of tiny generations against a 100 TB
    * base, and a full compact pays a corpus-sized rewrite to fix a
    * file-count problem the tail created. `optimize` pays only for the
    * small tail it rewrites.
    *
    * Correctness under merge-on-read: the packed generation records
    * its replaced run (`rlo..rhi`) and takes the run's TOP as its
    * EFFECTIVE merge position ([[Commit.pos]]) — legal because run
    * contiguity (adjacency in the resolved window) guarantees no
    * tombstone committed inside the run, so every packed row has
    * identical tombstone-visibility; a delete committed after the run
    * but before the optimize still kills packed rows (spec-pinned).
    * Snapshot resolution drops the originals whenever the packed
    * generation is visible; time travel to before the optimize commit
    * still reads the originals, and [[changesBetween]] emits nothing
    * for the rewrite (content-neutral, like base compaction). Replaced
    * data dirs are reclaimed by [[vacuumPacked]] (or a later
    * base-compact + [[vacuum]]), trading time-travel-into-the-run for
    * space — the standard retention decision, made explicitly.
    *
    * Output file count is sized by `targetFileRows` (⌈rows/target⌉
    * coalesced files), so packing N tiny generations yields a few
    * right-sized files instead of N footers every snapshot read must
    * touch. Atomic per run: data first, one manifest rename commits.
    * Returns the packed generation ids (empty when no run qualifies —
    * calling it on a healthy store is free). */
  def optimize(spark: SparkSession, root: String,
               smallRows: Long = 100000L,
               targetFileRows: Long = 5000000L): Seq[Long] = {
    val window = resolveWindow(root, Long.MaxValue)
    val runs = scala.collection.mutable.ArrayBuffer[Vector[Commit]]()
    var cur = Vector.empty[Commit]
    window.foreach { c =>
      if (c.kind == "append" && !c.base && c.rows <= smallRows)
        cur = cur :+ c
      else { if (cur.size >= 2) runs += cur; cur = Vector.empty }
    }
    if (cur.size >= 2) runs += cur
    val pinned = if (runs.isEmpty) null else pinnedSchema(root)
    runs.toSeq.map { run =>
      val total = run.map(_.rows).sum
      val nFiles =
        math.max(1L, (total + targetFileRows - 1) / targetFileRows).toInt
      val packed = stageWrite(
        spark.read.schema(pinned)
          .parquet(run.map(c => dataDir(root, c.gen).toString): _*)
          .coalesce(nFiles), root, "optimize" -> "").head
      require(packed.rows == total,
        s"optimize rewrite under $root lost rows: run ${run.head.gen}.." +
          s"${run.last.gen} holds $total, packed file holds ${packed.rows}")
      val gen = publish(root, packed, Some(run.head.gen -> run.last.gen))
      carrySidecars(root, run, gen)
      gen
    }
  }

  /** Reclaim the data of generations replaced by a committed
    * [[optimize]] output. After this, time travel INTO a replaced run
    * (and a change-feed window touching it) fails loudly; snapshots at
    * or after the optimize commit are unaffected. Manifests are kept,
    * as with [[vacuum]]. */
  def vacuumPacked(root: String): Unit = {
    val all = commits(root)
    val packedRanges = all.filter(_.kind == "optimize")
      .flatMap(o => o.rlo.zip(o.rhi))
    all.filter(c => c.kind != "optimize" && packedRanges.exists {
      case (lo, hi) => c.gen >= lo && c.gen <= hi
    }).foreach(c => reclaim(root, c.gen))
  }

  /** Delete generation data superseded by the NEWEST base generation
    * (everything older than it), with the Bloom and derived sidecars
    * of those generations. A manifest-less `gen=` directory below that base —
    * a crashed commit's orphan — goes too: no snapshot reads it, even
    * if its manifest were published later. After vacuum, [[snapshot]]
    * with `asOf` before that base fails explicitly. Manifests are kept,
    * so the log still records what existed. No-op when no base
    * generation exists. */
  def vacuum(root: String): Unit = {
    val all = commits(root)
    all.filter(_.base).lastOption.foreach { b =>
      (all.map(_.gen) ++ onDiskGens(root)).distinct
        .filter(_ < b.gen).foreach(reclaim(root, _))
    }
  }

  /** Delete generation `gen`'s data directory, Bloom sidecar and
    * derived sidecars. */
  private def reclaim(root: String, gen: Long): Unit = {
    (dataDir(root, gen) +: sidecarNames(root).map(sidecarDir(root, _, gen)))
      .filter(java.nio.file.Files.isDirectory(_))
      .foreach(p => org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
    java.nio.file.Files.deleteIfExists(bloomFile(root, gen))
  }
}
