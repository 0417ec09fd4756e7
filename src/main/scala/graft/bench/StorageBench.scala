package graft.bench

import graft.io.IceLite
import graft.sources.Sources
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Storage-layer evidence for two 100 TB claims (VERDICT r4 asks #5/#9):
  *
  *  1. **IceLite stats pruning**: a selective predicate over a
  *     multi-snapshot, many-partition table must cost proportional to
  *     the SURVIVING files, not the table — measured as files touched
  *     (`df.inputFiles`) and wall seconds, pruned vs full scan.
  *
  *  2. **Glob fan-in**: the single-scan fast path for file-source
  *     inners must stay flat in plan size and near-flat in wall-clock
  *     from 10^3 to 10^4 files, where the per-file fold (the
  *     reference-shaped per-file loop) grows with file count.
  *
  * Usage: runMain graft.bench.StorageBench [workDir]
  * Prints one JSON line per measurement; numbers are transcribed into
  * BENCH/NOTES.md.
  */
object StorageBench {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Remove a bench fixture tree (deepest-first walk). */
  private def rmTree(root: String): Unit = {
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try w.sorted(java.util.Comparator.reverseOrder())
      .forEach(q => { java.nio.file.Files.delete(q); () })
    finally w.close()
  }

  def pruneBench(spark: SparkSession, workDir: String): Unit = {
    val root = s"$workDir/icelite_prune"
    val parts = 64
    val rowsPerPart = 20000
    val ice = new IceLite(root)
    if (ice.currentSnapshotId.isEmpty) {
      // two snapshots so the read goes through snapshot resolution, not
      // a bare directory listing; each partition holds a disjoint
      // doc_id range so the footer min/max actually separates them
      (1 to 2).foreach { _ =>
        val snap = ice.nextSnapshotId
        val names = (0 until parts).map(p => f"p$p%03d")
        names.zipWithIndex.foreach { case (part, p) =>
          val lo = p.toLong * rowsPerPart
          val df = spark.range(lo, lo + rowsPerPart).toDF("doc_id")
            .withColumn("content", md5(col("doc_id").cast("string")))
            .coalesce(2)
          ice.commitPartition(snap, part, rowsPerPart.toLong, Map("files" -> df))
        }
        ice.commitSnapshot(snap, names)
      }
    }
    val snap = ice.currentSnapshotId.get
    // predicate covering 2 of 64 partitions
    val lo = 10L * rowsPerPart
    val hi = 12L * rowsPerPart - 1
    def count(df: org.apache.spark.sql.DataFrame): Long =
      df.filter(col("doc_id").between(lo, hi)).count()
    // warm-up both paths (file listing, codegen)
    count(ice.readTable(spark, snap, "files"))
    count(ice.readTablePruned(spark, snap, "files", "doc_id", lo.toDouble, hi.toDouble))
    val full = ice.readTable(spark, snap, "files")
    val (nFull, tFull) = time(count(full))
    val pruned = ice.readTablePruned(spark, snap, "files", "doc_id", lo.toDouble, hi.toDouble)
    val (nPruned, tPruned) = time(count(pruned))
    require(nFull == nPruned, s"pruning changed the answer: $nFull vs $nPruned")
    println(f"""{"metric":"icelite_prune","partitions":$parts,"rows":${parts.toLong * rowsPerPart},""" +
      f""""files_full":${full.inputFiles.length},"files_pruned":${pruned.inputFiles.length},""" +
      f""""sec_full":$tFull%.3f,"sec_pruned":$tPruned%.3f,"rows_out":$nPruned}""")
  }

  /** Row groups SURVIVING parquet-mr's own row-group filter for an
    * equality probe, with the bloom level on or off — the deterministic
    * "what would a scan have to decode" count (task byte metrics on a
    * buffered local fs are not sensitive to row-group skips). */
  private def survivingRowGroups(spark: SparkSession, file: String,
      column: String, value: String, bloom: Boolean): Int = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.io.api.Binary
    val hconf = spark.sessionState.newHadoopConf()
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), hconf)
    val pred = FilterApi.eq(FilterApi.binaryColumn(column),
      Binary.fromString(value))
    val opts = org.apache.parquet.HadoopReadOptions.builder(hconf)
      .withRecordFilter(FilterCompat.get(pred))
      .useStatsFilter(true).useDictionaryFilter(true)
      .useBloomFilter(bloom)
      .build()
    val r = ParquetFileReader.open(in, opts)
    try r.getRowGroups.size finally r.close()
  }

  /** Bucket-transform point lookup at non-toy scale (2M rows, 64
    * buckets): the lookup must plan over ONE bucket's files and cost a
    * bucket, not the table — vs the same probe as a full-scan filter.
    * Second level: inside the probed bucket the files carry parquet
    * BLOOM FILTERS on the probe column and small (1 MiB) row groups;
    * the same single-bucket scan runs with bloom row-group filtering
    * on vs off and reports input BYTES both ways — the bloom must cut
    * the bytes a within-bucket point read touches. */
  def bucketBench(spark: SparkSession, workDir: String): Unit = {
    val root = s"$workDir/icelite_bucket_${ProcessHandle.current().pid()}"
    val buckets = 64
    val rows = 2000000L
    val ice = new IceLite(root)
    ice.setBucketSpec("files", "commitsha", buckets)
    // pre-repartition BY THE TRANSFORM so each bucket lands as one
    // file (the compacted steady state); tune the bloom to the
    // per-bucket NDV — an untuned parquet bloom (1M default) writes
    // ~1.2 MiB per chunk, more than the data it guards at this size
    val df = spark.range(rows).toDF("doc_id")
      .withColumn("commitsha",
        md5(concat(lit("c"), col("doc_id").cast("string"))))
      .withColumn("content", sha2(col("doc_id").cast("string"), 256))
    val routed = df.repartition(buckets,
      IceLite.bucketColumn(col("commitsha"), buckets))
    // dictionary OFF for the probe column: at production row-group
    // sizes a 32-byte-value dictionary exceeds parquet's 1 MiB
    // dictionary-page cap and falls back to PLAIN anyway (losing
    // dictionary-page row-group filtering) — this bench forces that
    // real state at small scale so the bloom is measured against the
    // encoding a 100 TB table actually has
    val parts = ice.ingestBucketed(spark, 1L, "files", routed,
      bloomColumns = Seq("commitsha"),
      writeOptions = Map(
        "parquet.block.size" -> (1 << 20).toString,
        "parquet.bloom.filter.expected.ndv#commitsha" ->
          (rows / buckets).toString,
        "parquet.enable.dictionary" -> "false"))
    ice.commitSnapshot(1L, parts)
    def probeVal(i: Long): String = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(s"c$i".getBytes("UTF-8"))
      dig.map(b => f"$b%02x").mkString
    }
    val probe = probeVal(1234567L)
    def timeMin[A](f: => A): Double =
      Seq.fill(3)(time(f)._2).min // min-of-3, same policy as the grid
    // PARTITION level: full-scan filter vs transform-routed read
    val full = ice.readTable(spark, 1L, "files")
      .filter(col("commitsha") === probe)
    val pt = ice.readTablePoint(spark, 1L, "files", probe)
    val nFull = full.count(); val nPt = pt.count() // warm + correctness
    require(nFull == 1 && nPt == 1,
      s"point probes must each hit exactly one row, got $nFull/$nPt")
    val tFull = timeMin(full.count())
    val tPt = timeMin(pt.count())
    // BLOOM level: membership of an ABSENT key in the probed bucket —
    // min/max cannot prune uniform hashes and the probe column is
    // plain-encoded (no dictionary page to filter on), so without the
    // bloom every row group must be decoded to say "no"; with it the
    // answer comes from the filter bytes alone. Evidence is parquet's
    // own row-group filter verdict plus wall seconds of the scan.
    val absent = probeVal(rows + 99L) // derivation guarantees non-membership
    val bucketPart = s"bucket=${IceLite.bucketOf(absent, buckets)}"
    val bdir = ice.partDataDir(1L, "files", bucketPart)
    val bucketFile = {
      val d = java.nio.file.Paths.get(bdir)
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toSeq.head
      finally s.close()
    }
    val rgAll = survivingRowGroups(spark, bucketFile, "commitsha", absent,
      bloom = false)
    val rgBloom = survivingRowGroups(spark, bucketFile, "commitsha", absent,
      bloom = true)
    require(rgBloom < rgAll && rgBloom == 0,
      s"bloom did not prune absent-key row groups: $rgAll -> $rgBloom")
    def bucketScan(bloom: Boolean): Long =
      spark.read.option("parquet.filter.bloom.enabled", bloom.toString)
        .parquet(bdir).filter(col("commitsha") === absent).count()
    bucketScan(true); bucketScan(false) // warm
    val tOn = timeMin(bucketScan(true))
    val tOff = timeMin(bucketScan(false))
    println(f"""{"metric":"bucket_point","buckets":$buckets,"rows":$rows,""" +
      f""""files_full":${full.inputFiles.length},"files_point":${pt.inputFiles.length},""" +
      f""""sec_full":$tFull%.3f,"sec_point":$tPt%.3f,""" +
      f""""rowgroups_stats_only":$rgAll,"rowgroups_bloom":$rgBloom,""" +
      f""""sec_bloom_on":$tOn%.3f,"sec_bloom_off":$tOff%.3f}""")
    rmTree(root)
  }

  def globBench(spark: SparkSession, workDir: String): Unit = {
    import java.nio.file.{Files, Paths}
    // 10^5 files since round 6 (VERDICT r5 ask #8): the question is
    // whether the single-scan path's listing cost stays ~linear (it is
    // listing-bound past 10^3) or degrades superlinearly
    val dir = Paths.get(s"$workDir/glob_fanin6")
    val total = 100000
    def fileCount(): Long = {
      val s = Files.list(dir)
      try s.count() finally s.close()
    }
    if (!Files.isDirectory(dir) || fileCount() < total) {
      Files.createDirectories(dir)
      (0 until total).foreach { i =>
        Files.writeString(dir.resolve(f"part_$i%06d.ndjson"),
          (0 until 5).map(j => s"""{"v":${i * 5 + j},"s":"doc_$i"}""")
            .mkString("", "\n", "\n"))
      }
    }
    def pat(n: Int): String = n match {
      case 100 => s"$dir/part_0000*.ndjson"   // 000000..000099
      case 1000 => s"$dir/part_000*.ndjson"   // 000000..000999
      case 10000 => s"$dir/part_00*.ndjson"   // 000000..009999
      case _ => s"$dir/part_*.ndjson"
    }
    Seq(100, 1000, 10000, total).foreach { n =>
      val fast = Sources.glob(spark, pat(n), Sources.ndjson,
        storeFilename = Some("fname"), fileSourceInner = true)
      val (cnt, tFast) = time(fast.count())
      val planLines = fast.queryExecution.optimizedPlan.numberedTreeString.linesIterator.size
      // the per-file fold beyond 10^3 files is exactly the hazard the
      // fast path removes (10^4 unionByName plans take minutes to even
      // ANALYZE); measured only where it terminates in reasonable time
      val foldTimes =
        if (n <= 1000) {
          val fold = Sources.glob(spark, pat(n), Sources.ndjson,
            storeFilename = Some("fname"))
          val (c2, tFold) = time(fold.count())
          require(c2 == cnt)
          val foldLines = fold.queryExecution.optimizedPlan.numberedTreeString.linesIterator.size
          f""","sec_fold":$tFold%.3f,"plan_lines_fold":$foldLines"""
        } else ""
      // at 10^5 files the hidden cost is eager JSON schema INFERENCE —
      // a full extra read of the corpus at plan build (probed: 77s
      // build vs 26s scan at 10^5; packing tasks via openCostInBytes
      // moved nothing — the per-file open is the floor, compaction the
      // real fix). Measure the schema-pinned inner: build + scan with
      // inference skipped.
      val pinnedTimes =
        if (n >= 100000) {
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("v",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("s",
              org.apache.spark.sql.types.StringType)))
          // sec_fast times only the scan (build untimed, historical
          // field); these two time BUILD+SCAN so the inference cost is
          // visible and comparable
          val (c3, tPinned) = time {
            Sources.glob(spark, pat(n), Sources.ndjsonWithSchema(schema),
              storeFilename = Some("fname"), fileSourceInner = true).count()
          }
          require(c3 == cnt)
          val (c4, tInfer) = time {
            Sources.glob(spark, pat(n), Sources.ndjson,
              storeFilename = Some("fname"), fileSourceInner = true).count()
          }
          require(c4 == cnt)
          f""","sec_inferred_build_and_scan":$tInfer%.3f""" +
            f""","sec_pinned_build_and_scan":$tPinned%.3f"""
        } else ""
      println(f"""{"metric":"glob_fanin","files":$n,"rows":$cnt,""" +
        f""""sec_fast":$tFast%.3f,"tasks_fast":${fast.rdd.getNumPartitions},""" +
        f""""plan_lines_fast":$planLines$foldTimes$pinnedTimes}""")
    }
  }

  /** Partitioned sqlite read at non-toy scale: a ~100 MB, 2M-row
    * database (generated once with the host's python3 sqlite3 module —
    * bench tooling only, the engine never depends on it; phase skipped
    * if python3 is absent). Reports tasks used, wall seconds, rows/s
    * for the full scan, both through the paged (>BufferCap would be
    * 64 MiB — this file exceeds it) reader. */
  def sqliteBench(spark: SparkSession, workDir: String): Unit = {
    import java.nio.file.{Files, Paths}
    val dbPath = s"$workDir/big.sqlite"
    val rows = 2000000
    if (!Files.exists(Paths.get(dbPath))) {
      val script =
        s"""import sqlite3, os
           |con = sqlite3.connect('$dbPath.tmp')
           |con.execute("CREATE TABLE docs (id INTEGER PRIMARY KEY, name TEXT, score REAL, body TEXT)")
           |con.executemany("INSERT INTO docs VALUES (?,?,?,?)",
           |  ((i, 'doc_%07d' % i, i * 0.5, 'x' * (20 + i % 30)) for i in range($rows)))
           |con.commit(); con.close()
           |os.replace('$dbPath.tmp', '$dbPath')
           |""".stripMargin
      val rc = new ProcessBuilder("python3", "-c", script).inheritIO().start().waitFor()
      if (rc != 0) {
        System.err.println(s"[storage] python3 unavailable (rc=$rc): sqlite phase skipped")
        return
      }
    }
    val sizeMb = Files.size(Paths.get(dbPath)) / 1e6
    import org.apache.spark.sql.functions.spark_partition_id
    def scan() = graft.sources.SqliteSource.table(spark, dbPath, "docs")
    scan().count() // warm-up (JIT + page-cache of interior pages)
    val (n, t) = time(scan().count())
    val tasks = scan().select(spark_partition_id()).distinct().count()
    require(n == rows, s"expected $rows rows, got $n")
    println(f"""{"metric":"sqlite_scan","rows":$n,"size_mb":$sizeMb%.1f,""" +
      f""""tasks":$tasks,"sec":$t%.3f,"rows_per_sec":${n / t}%.0f}""")
  }

  /** Metadata-path scaling (VERDICT r5 residual #2 / r5 ask #3): with
    * 10^3..10^4 partitions, the per-partition-file stats sweep (the
    * resume/prune decision input) is O(parts) driver file IO, while the
    * round-6 consolidated manifest answers the same sweep from ONE
    * file. No Spark session needed — this measures exactly the driver
    * decision path (completedParts + a full partStats sweep, i.e. what
    * readTablePruned's kept-filter and resume consult), not data IO.
    * Lineage records are fabricated in IceLite's own format; a planted
    * value is asserted back through partStats, so a format drift breaks
    * the bench loudly instead of timing garbage. */
  def manifestBench(workDir: String): Unit = {
    import java.nio.file.{Files, Paths}
    // 10^5 since round 7 (VERDICT r6 ask #8): with sharded manifests the
    // question is whether the manifest-path sweep stays ~linear with
    // bounded per-parse allocation while the per-file path pays 10^5
    // opens
    Seq(1000, 10000, 100000).foreach { parts =>
      val root = s"$workDir/manifest_scale_$parts"
      fabricateSnapshot(root, parts)
      val names = (0 until parts).map(i => f"org$i%05d")
      def sweep(inst: IceLite): Int =
        names.count { n =>
          inst.partStats(1L, n, "t").get("v")
            .exists { case (lo, hi) => hi >= 500.0 && lo <= 509.0 }
        }
      // format-drift guard: the planted range must round-trip
      require(new IceLite(root).partStats(1L, names(3), "t")
        .get("v").contains((30.0, 39.0)), "lineage format drifted")
      // warm-up: JSON parser classloading/JIT must not be charged to
      // whichever path happens to run first
      sweep(new IceLite(root))
      // manifest path: fresh instance = cold cache, one file read
      val (keptM, tManifest) = time(sweep(new IceLite(root)))
      // per-file path: delete nothing, just force the fallback by
      // timing a sweep against the files (fresh instance, manifest
      // removed then restored)
      val mf = Paths.get(root, "snapshots", "v1.json")
      val saved = Files.readAllBytes(mf)
      Files.delete(mf)
      val (keptF, tFiles) = time(sweep(new IceLite(root)))
      Files.write(mf, saved)
      require(keptM == 1 && keptF == 1, s"sweep disagreement: $keptM vs $keptF")
      println(f"""{"metric":"manifest_scale","partitions":$parts,""" +
        f""""sec_manifest":$tManifest%.4f,"sec_per_file":$tFiles%.4f}""")
    }
  }

  /** Small-file compaction (round 6): 64 partitions × 8 tiny files is
    * the debris shape incremental commits leave behind; at 10^5
    * partitions the FILE COUNT (listing + footer reads + task setup),
    * not the byte count, is what degrades every later scan. Measures
    * the same full-table aggregate before and after
    * [[IceLite.compactSnapshot]], plus the compaction cost itself and
    * the file counts, on a fresh table each run (compaction mutates the
    * table, so reuse would skew repeat runs). */
  def compactBench(spark: SparkSession, workDir: String, parts: Int = 64,
      filesPerPart: Int = 8, rowsPerPart: Int = 20000): Unit = {
    import java.nio.file.{Files, Paths}
    val root = s"$workDir/icelite_compact_${parts}_${ProcessHandle.current().pid()}"
    val ice = new IceLite(root)
    val snap = ice.nextSnapshotId
    val names = (0 until parts).map(p => f"p$p%03d")
    names.zipWithIndex.foreach { case (part, p) =>
      val lo = p.toLong * rowsPerPart
      ice.commitPartition(snap, part, rowsPerPart.toLong, Map("files" ->
        spark.range(lo, lo + rowsPerPart).toDF("doc_id")
          .withColumn("content", md5(col("doc_id").cast("string")))
          .repartition(filesPerPart)))
    }
    ice.commitSnapshot(snap, names)
    def scan(s: Long): Long =
      ice.readTable(spark, s, "files").agg(count(col("content"))).collect()(0).getLong(0)
    try {
      scan(snap) // warm-up
      val before = ice.readTable(spark, snap, "files").inputFiles.length
      val (n0, tBefore) = time(scan(snap))
      val (compacted, tCompact) = time(ice.compactSnapshot(spark))
      val after = ice.readTable(spark, compacted, "files").inputFiles.length
      val (n1, tAfter) = time(scan(compacted))
      require(n0 == n1 && n0 == parts.toLong * rowsPerPart,
        s"compaction changed the answer: $n0 vs $n1")
      ice.expireSnapshots(retain = 1)
      val reclaimed = !Files.exists(
        Paths.get(root, "data", s"snap=$snap", "files", "part=p000"))
      println(f"""{"metric":"icelite_compact","partitions":$parts,""" +
        f""""files_before":$before,"files_after":$after,""" +
        f""""sec_scan_before":$tBefore%.3f,"sec_scan_after":$tAfter%.3f,""" +
        f""""sec_compact":$tCompact%.3f,"expire_reclaimed":$reclaimed}""")
    } finally {
      // self-contained fixture, fresh per run (compaction mutates the
      // table): remove it, or repeated bench JVMs accumulate one full
      // pid-suffixed table tree each under workDir
      rmTree(root)
    }
  }

  /** Metadata-only append at scale (round 6): carrying 10^3..10^4
    * committed partitions into a new snapshot must cost driver file IO
    * only — zero Spark jobs, zero data bytes — or the append story
    * degrades to O(table) at the 10^5-partition design point. Reuses
    * manifestBench's fabricated snapshot (same lineage format,
    * format-drift guarded there); carries every partition forward and
    * commits, then asserts the new manifest answers partStats. */
  def carryBench(workDir: String): Unit = {
    import java.nio.file.{Files, Paths}
    Seq(1000, 10000, 100000).foreach { parts =>
      // own fabricated root, removed after: carrying stacks a snapshot
      // per run, which would skew (and eventually bloat) a reused dir
      val root = s"$workDir/carry_scale_${parts}_${ProcessHandle.current().pid()}"
      val ice = fabricateSnapshot(root, parts)
      try {
        val from = ice.currentSnapshotId.get
        val names = ice.snapshotParts(from)
        val (_, tCarry) = time {
          names.foreach(p => ice.carryForwardPartition(from + 1, p, from))
          ice.commitSnapshot(from + 1, names)
        }
        val stats = new IceLite(root).partStats(from + 1, names(3), "t")
        require(stats.get("v").contains((30.0, 39.0)),
          "carried lineage lost its stats")
        println(f"""{"metric":"carry_append","partitions":$parts,""" +
          f""""sec_carry_commit":$tCarry%.3f}""")
      } finally rmTree(root)
    }
  }

  /** Snapshot-expiry sweep at 10^4 partitions (VERDICT r6 ask #9): the
    * reference accounting reads a lineage doc for every (retained
    * snapshot × partition) before deleting anything. Served from the
    * sharded manifests (one bounded parse per retained snapshot + 10^4
    * cached map probes) this must be a metadata-speed operation, not
    * O(parts) driver file opens. Fabricates snapshot 1, carries all
    * partitions into snapshot 2, expires snapshot 1 on a COLD instance
    * (worst case: no warm manifest cache). */
  def expireBench(workDir: String): Unit = {
    import java.nio.file.{Files, Paths}
    val parts = 10000
    val root = s"$workDir/expire_scale_${parts}_${ProcessHandle.current().pid()}"
    val ice = fabricateSnapshot(root, parts)
    try {
      val from = ice.currentSnapshotId.get
      val names = ice.snapshotParts(from)
      names.foreach(p => ice.carryForwardPartition(from + 1, p, from))
      ice.commitSnapshot(from + 1, names)
      val cold = new IceLite(root)
      val (expired, tExpire) = time(cold.expireSnapshots(retain = 1))
      require(expired == Seq(from), s"expected to expire $from, got $expired")
      require(new IceLite(root).partStats(from + 1, names(3), "t")
        .get("v").contains((30.0, 39.0)), "retained snapshot lost its stats")
      println(f"""{"metric":"expire_sweep","partitions":$parts,""" +
        f""""sec_expire":$tExpire%.3f}""")
    } finally rmTree(root)
  }

  /** Fabricate a committed snapshot of `parts` lineage-only partitions
    * in IceLite's own record format (planted stats asserted back by the
    * callers, so format drift breaks benches loudly, not silently). */
  private def fabricateSnapshot(root: String, parts: Int): IceLite = {
    import java.nio.file.Files
    val ice = new IceLite(root)
    val names = (0 until parts).map(i => f"org$i%05d")
    if (ice.currentSnapshotId.isEmpty) {
      val dir = ice.lineageDir(1L)
      Files.createDirectories(dir)
      names.zipWithIndex.foreach { case (name, i) =>
        Files.writeString(dir.resolve(s"$name.json"),
          s"""{"snapshot":1,"part":"$name","rows":${i + 1},"tables":["t"],""" +
            s""""stats":{"t":{"v":{"min":${i * 10}.0,"max":${i * 10 + 9}.0}}}}""")
      }
      ice.commitSnapshot(1L, names)
    }
    ice
  }

  /** VERDICT r7 #1 witness: per-partition stats rows (`__profile` /
    * `__hist`) for 10^3 partitions land through a CONSTANT number of
    * Spark jobs (one groupBy pass per stats table + one clustered
    * partitionBy write per table), not one driver-sequential job per
    * partition — the shape the grouped `IncrementalProfile`
    * `partitionProfile` / `lengthHistogram` and
    * `IceLite.ingestPartitionedTables` replace the r7 per-partition
    * `partitionProfile` loop with. Prints the measured JOB COUNT
    * alongside the wall time; the r7 loop shape costs ≥2 jobs per
    * partition (2000+ here). */
  def statsIngestBench(spark: SparkSession, workDir: String): Unit = {
    val root = s"$workDir/icelite_stats_${ProcessHandle.current().pid()}"
    val parts = 1000
    val rows = 1000000L
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val df = spark.range(rows).toDF("doc_id")
      .withColumn("part", concat(lit("p"), pmod(col("doc_id"), lit(parts.toLong))))
      .withColumn("lang", when(col("doc_id") % 53 === 5, lit(null))
        .otherwise(lit("en")))
      .withColumn("commitsha",
        md5(concat(lit("c"), col("doc_id").cast("string"))))
    val ice = new IceLite(root)
    spark.sparkContext.addSparkListener(listener)
    val (landed, dt) = try time {
      val prof = graft.validate.IncrementalProfile.partitionProfile(
        df, nullCols = Seq("lang"), rangeCols = Seq("doc_id"),
        distinctCols = Seq("commitsha"), groupBy = Some("part"))
      val hist = graft.validate.IncrementalProfile.lengthHistogram(
        df, length(col("commitsha")) * (col("doc_id") % 7 + 1), 4,
        groupBy = Some("part"))
      val p = ice.ingestPartitionedTables(spark, 1L, "part",
        Map("files" -> df, "__profile" -> prof, "__hist" -> hist))
      ice.commitSnapshot(1L, p)
      p
    } finally spark.sparkContext.removeSparkListener(listener)
    val merged = graft.validate.IncrementalProfile.mergeProfiles(
      ice.readTable(spark, 1L, "__profile").drop("part"))
      .select("n_rows").collect()(0).getLong(0)
    require(landed.size == parts, s"expected $parts partitions, got ${landed.size}")
    require(merged == rows, s"merged stats lost rows: $merged of $rows")
    println(f"""{"bench":"stats_ingest","parts":$parts,"rows":$rows,""" +
      f""""spark_jobs":${jobs.get},"sec":$dt%.3f}""")
    rmTree(root)
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // f"%.2f" JSON must not localize
    val workDir = args.headOption.getOrElse("/tmp/graft_bench")
    // optional comma-separated selector for local iteration on one
    // measurement (e.g. `only=bucket,prune`); driver runs everything
    val only: String => Boolean = args.lift(1) match {
      case Some(s) if s.startsWith("only=") =>
        val set = s.stripPrefix("only=").split(',').toSet
        set.contains
      case _ => _ => true
    }
    val spark = graft.GraftSession.builder("local[16]", 16)
      .appName("storage-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      if (only("manifest")) manifestBench(workDir)
      if (only("carry")) carryBench(workDir)
      if (only("expire")) expireBench(workDir)
      if (only("compact")) {
        compactBench(spark, workDir)
        // 4x the partitions at 1/4 the rows each: with the bounded-pool
        // fan-out, compaction wall should track data volume (similar
        // total rows -> similar seconds), not partition count — the
        // round-6 sequential loop scaled with partitions instead
        compactBench(spark, workDir, parts = 256, filesPerPart = 4,
          rowsPerPart = 5000)
      }
      if (only("prune")) pruneBench(spark, workDir)
      if (only("stats")) statsIngestBench(spark, workDir)
      if (only("bucket")) bucketBench(spark, workDir)
      if (only("glob")) globBench(spark, workDir)
      if (only("sqlite")) sqliteBench(spark, workDir)
    } finally spark.stop()
  }
}
