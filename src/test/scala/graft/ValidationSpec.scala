package graft

import graft.ops.RowOps
import graft.rules._
import graft.synth.FilesTable
import graft.validate._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, local[4]). It
  * takes the engine's context-level settings, so every shuffle and
  * broadcast of the suites is compressed as in a GraftSession. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .config(GraftSession.contextConf)
      .master("local[4]")
      .appName("sifterspark-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

/** Golden end-to-end expectations over the deterministic sf0.001 fixture —
  * the analog of the reference's golden harness
  * (test/command_line_test.go:51-103), strengthened from line counts to
  * exact violation sets.
  */
class ValidationSpec extends AnyFunSuite {
  import TestSpark._

  lazy val files = FilesTable.files(spark, sf).cache()

  test("files fixture has the frozen shape (505 rows = 500 + 5 dups)") {
    assert(files.count() === 505)
  }

  test("violations: exact per-rule counts match the planted defects") {
    val counts = Violations.extract(files, FileRules.rowRules)
      .groupBy("rule_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map(
      "required_lang" -> 10L,   // doc_id % 53 == 5 (+1 dup in the 101-cycle? no: frozen by oracle)
      "enum_lang" -> 8L,        // doc_id % 67 == 7
      "pattern_path" -> 6L,     // doc_id % 89 == 3
      "sha256_content" -> 6L))  // doc_id % 97 == 13
  }

  test("violations: zero false positives on clean rules") {
    val ids = Violations.extract(files, FileRules.rowRules)
      .select("rule_id").distinct().collect().map(_.getString(0)).toSet
    assert(!ids.contains("required_repo"))
    assert(!ids.contains("pattern_commit"))
    assert(!ids.contains("required_content"))
  }

  test("uniqueness: exactly the 5 planted duplicate keys, each n_rows=2") {
    val dups = Uniqueness.duplicates(files, FileRules.unique.columns).collect()
    assert(dups.length === 5)
    assert(dups.forall(_.getAs[Long]("n_rows") === 2L))
  }

  test("uniqueness: property — NULL key components group together, as in " +
    "GROUP BY and the oracle's vUniqueDups") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val keys = Seq("a", "b", "c")
    val schema = StructType(keys.map(StructField(_, StringType)))
    (1 to 4).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val rows = Seq.fill(60)(keys.map(_ => Seq(null, "x", "y")(rnd.nextInt(3))))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(Row.fromSeq), 3), schema)
      // brute force: Scala's groupBy, in which None equals None
      val expected = rows.map(_.map(Option(_))).groupBy(identity)
        .collect { case (k, ks) if ks.size > 1 => k -> ks.size.toLong }
      keys.indices.foreach { i =>
        assert(expected.keys.exists(_(i).isEmpty), s"seed $seed: no NULL at key $i")
      }
      val got = Uniqueness.duplicates(df, keys).collect()
        .map(r => keys.indices.map(i => Option(r.getString(i))) -> r.getLong(keys.size)).toMap
      assert(got === expected, s"seed $seed")
    }
  }

  test("referential: 7 orphan repos covering 26 file rows") {
    val o = Referential.orphans(files, FilesTable.repoManifest(spark, sf), "repo", "repo")
    val rows = o.collect()
    assert(rows.length === 7)
    assert(rows.map(_.getAs[Long]("n_rows")).sum === 26L)
    assert(rows.forall(_.getString(0).startsWith("org11/")))
  }

  test("sha256 invariant: corrupt rows are exactly the 97-cycle plant") {
    val bad = files.filter(col("content_sha256") =!= sha2(col("content"), 256))
    assert(bad.count() === 6)
    assert(bad.select("doc_id").distinct().collect()
      .map(_.getLong(0)).forall(_ % 97 === 13))
  }

  test("profile: row counts and null stats are exact") {
    val p = Profile.columns(files,
      Seq("repo", "lang", "content"), exact = true).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p("repo").getAs[Long]("n_rows") === 505L)
    assert(p("repo").getAs[Long]("n_null") === 0L)
    assert(p("lang").getAs[Long]("n_null") === 10L)
    assert(p("lang").getAs[Long]("n_distinct") === 6L) // 5 langs + klingon
  }

  test("profile: approx mode stays within HLL++ rsd bound") {
    val exact = Profile.columns(files, Seq("path"), exact = true)
      .collect()(0).getAs[Long]("n_distinct").toDouble
    val approx = Profile.columns(files, Seq("path"), exact = false)
      .collect()(0).getAs[Long]("n_distinct").toDouble
    assert(math.abs(approx - exact) / exact < 0.05)
  }

  test("drift: KS over the frozen fixture halves matches golden") {
    val ks = DriftCheck.ks(files, length(col("content")),
      col("doc_id") % 2 === 0, 64).collect()(0).getDouble(0)
    assert(ks === 0.075553673)
  }

  test("drift: shifted distribution is detected, identical is not") {
    import spark.implicits._
    val base = (1 to 2000).map(i => (i, 100 + (i % 50))).toDF("id", "len")
    val same = DriftCheck.ks(base, col("len"), col("id") % 2 === 0, 8)
      .collect()(0).getDouble(0)
    assert(same < 0.05)
    val shifted = base.withColumn("len",
      when(col("id") % 2 === 0, col("len") + 200).otherwise(col("len")))
    val far = DriftCheck.ks(shifted, col("len"), col("id") % 2 === 0, 8)
      .collect()(0).getDouble(0)
    assert(far > 0.9)
  }

  test("profile: one-pass length quantiles track exact percentiles") {
    val q = ProfileSinglePass.lengthQuantiles(files, Seq("content", "path"))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    assert(q.size === 6)
    val exact = files.selectExpr("percentile(length(content), 0.5)")
      .collect()(0).getDouble(0)
    assert(math.abs(q(("content", 0.5)) - exact) <= exact * 0.02 + 2)
    assert(q(("content", 0.5)) <= q(("content", 0.9)))
    assert(q(("content", 0.9)) <= q(("content", 0.99)))
    // an all-null column keeps its rows (null lengths), never vanishes
    import spark.implicits._
    val withNull = Seq(("a", null: String), ("bb", null: String)).toDF("x", "y")
    val qs = ProfileSinglePass.lengthQuantiles(withNull, Seq("x", "y"))
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(qs.size === 6)
    assert(qs(("y", 0.5)) === -1L)
    assert(qs(("x", 0.5)) >= 1L)
  }

  test("drift: PSI near zero for identical halves, large for a shift") {
    import spark.implicits._
    val base = (1 to 2000).map(i => (i, 100 + (i % 50))).toDF("id", "len")
    val same = DriftCheck.psi(base, col("len"), col("id") % 2 === 0, 8)
      .collect()(0).getDouble(0)
    assert(same < 0.01, s"psi on identical halves: $same")
    val shifted = base.withColumn("len",
      when(col("id") % 2 === 0, col("len") + 200).otherwise(col("len")))
    val far = DriftCheck.psi(shifted, col("len"), col("id") % 2 === 0, 8)
      .collect()(0).getDouble(0)
    assert(far > 1.0, s"psi on disjoint halves: $far") // fully separated buckets
  }

  test("verdicts: full grid covers every org x rule; 24 failing cells") {
    val v = Verdicts.compute(spark, files, FileRules.rowRules).cache()
    val orgs = files.select(Verdicts.org(col("repo"))).distinct().count()
    assert(v.count() === orgs * FileRules.rowRules.size)
    assert(v.filter(!col("pass")).count() === 24)
    // every failing cell's count equals the violations seen in that org
    assert(v.filter(col("pass") && col("violation_count") =!= 0).count() === 0)
  }

  test("verdicts: a repeated rule id is refused, naming the id") {
    val rules = Seq(Required("file.required_repo", "repo"),
      Required("file.required_repo", "repo")) ++ FileRules.rowRules
    val e = intercept[IllegalArgumentException](Verdicts.compute(spark, files, rules))
    assert(e.getMessage.contains("file.required_repo"))
    assert(!e.getMessage.contains("required_lang"))
  }

  test("verdicts and violations: no rules give no rows, with the usual schema") {
    val verdicts = Verdicts.compute(spark, files, Nil)
    val usual = Verdicts.compute(spark, files, FileRules.rowRules).schema
    // committed lineage hashes the schema, nullability included
    assert(usual.map(f => f.name -> f.nullable) === Seq("part" -> false,
      "rule_id" -> true, "violation_count" -> false, "pass" -> false))
    assert(verdicts.schema === usual)
    assert(verdicts.collect().isEmpty)
    val violations = Violations.extract(files, Nil)
    assert(violations.schema === Violations.extract(files, FileRules.rowRules).schema)
    assert(violations.collect().isEmpty)
  }

  test("verdicts: property — every (org, rule) cell holds the brute-force " +
    "count, from at most 2 Spark jobs") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    // NULL in every rule column; the odd rule id exercises the quoting
    // into the unpivot, and its `pass` is NULL on a NULL content
    val odd = "len's `odd` \\ id"
    val rules = Seq(
      Required("required_repo", "repo"),
      Required("required_lang", "lang"),
      EnumIn("enum_lang", "lang", Seq("en", "fr")),
      Pattern("pattern_content", "content", "^a+$"),
      Check(odd, "content", length(col("content")) < 3))
    def violates(id: String, repo: String, lang: String, content: String): Boolean =
      id match {
        case "required_repo" => repo == null
        case "required_lang" => lang == null
        case "enum_lang" => lang != null && !Set("en", "fr")(lang)
        case "pattern_content" => content != null && !content.matches("a+")
        case `odd` => content != null && content.length >= 3
      }
    def orgOf(repo: String): String =
      if (repo == null) "__null__"
      else repo.split("/", -1).head match { case "" => "__empty__"; case o => o }
    // path and commit only ride along, as in a files table
    val schema = StructType(Seq("repo", "path", "commit", "lang", "content")
      .map(StructField(_, StringType)))
    val recorder = new GroupJobs
    spark.sparkContext.addSparkListener(recorder)
    try (1 to 6).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))
      val rows = Seq.fill(50 + rnd.nextInt(250)) {
        val repo = rnd.nextInt(10) match {
          case 0 | 1 | 2 => "hot/r" // a 30%-hot org
          case 3 => pick(null, "/x", "")
          case _ => s"o${rnd.nextInt(6)}/r${rnd.nextInt(3)}"
        }
        (repo, pick(null, "en", "fr", "de"), pick(null, "", "a", "aa", "aaa", "ab"))
      }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        rows.zipWithIndex.map { case ((r, l, c), i) => Row(r, s"src/f$i.py", s"c$i", l, c) }, 3),
        schema)
      val expected = (for {
        part <- rows.map(r => orgOf(r._1)).distinct
        r <- rules
      } yield (part, r.id) -> rows.count { case (repo, l, c) =>
        orgOf(repo) == part && violates(r.id, repo, l, c)
      }.toLong).toMap
      var got = Array.empty[Row]
      val jobs = recorder.jobsOf(s"verdicts-$seed") {
        got = Verdicts.compute(spark, df, rules).collect()
      }
      assert(jobs <= 2, s"seed $seed: $jobs jobs")
      assert(got.length === expected.size, s"seed $seed: one cell per (org, rule)")
      assert(got.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap ===
        expected, s"seed $seed")
      assert(got.forall(r => r.getBoolean(3) == (r.getLong(2) == 0L)))
    } finally spark.sparkContext.removeSparkListener(recorder)
  }

  test("referential: NULL foreign keys are NOT orphans (Required's finding, " +
    "and the SQL NOT-IN oracle's semantics)") {
    import spark.implicits._
    val f = Seq(("r1", 1L), (null.asInstanceOf[String], 2L),
      ("rMISS", 3L)).toDF("repo", "doc_id")
    val manifest = Seq("r1").toDF("repo")
    val got = Referential.orphans(f, manifest, "repo", "repo")
      .collect().map(r => Option(r.getString(0))).toSet
    assert(got === Set(Some("rMISS")), s"null FK must not be an orphan: $got")
  }

  test("referential: a NULL in the manifest hides no orphan, broadcast or " +
    "shuffled (the oracle's NOT IN would return no rows)") {
    import spark.implicits._
    val f = Seq(("r1", 1L), (null.asInstanceOf[String], 2L), ("rMISS", 3L),
      ("rMISS", 4L), ("r2", 5L)).toDF("repo", "doc_id")
    val manifest = Seq("r1", null, "r1").toDF("repo")
    def counts(o: org.apache.spark.sql.DataFrame): Map[String, Long] =
      o.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = Map("rMISS" -> 2L, "r2" -> 1L)
    assert(counts(Referential.orphans(f, manifest, "repo", "repo")) === expected)
    Seq(true, false).foreach { b =>
      assert(counts(Referential.orphansKnownSize(f, manifest, "repo", "repo",
        broadcastDim = b)) === expected, s"broadcastDim = $b")
    }
  }

  test("salted aggregation agrees with the direct group-by under skew") {
    val direct = files.groupBy("repo").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = SaltedAgg.countByKeyAuto(files, Seq("repo"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_rows")).toMap
    assert(salted === direct)
    // the fixture really is skewed: hot repo holds ~30%
    assert(direct("bigorg/monorepo").toDouble / 505 > 0.25)
  }

  test("auto-salting: hot and balanced keys count through the salted plan") {
    // frac=1 samples every row: the diagnostic's exact answer on the
    // small fixture (production default 100 ~ a 1% seeded sample)
    assert(SaltedAgg.isSkewed(files, Seq("repo"), frac = 1))
    val auto = SaltedAgg.countByKeyAuto(files, Seq("repo"))
    // the two-phase salted plan: the _salt stage survives into the
    // optimized plan (its output is checked in the test above)
    assert(auto.queryExecution.optimizedPlan.toString.contains("_salt"))
    // balanced keys: one row per (repo, path) is unique-ish per key, no
    // hot group; the salted plan gives the plain aggregate's output
    val balanced = files.withColumn("k",
      concat(col("repo"), lit("/"), col("path")))
    assert(!SaltedAgg.isSkewed(balanced, Seq("k"), frac = 1))
    val salted = SaltedAgg.countByKeyAuto(balanced, Seq("k"))
    assert(salted.collect().map(r => r.getString(0) -> r.getAs[Long]("n_rows")).toMap
      === balanced.groupBy("k").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  test("salted count: property — every key's count equals a plain tally, " +
    "NULL keys included, from at most 3 Spark jobs") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val schema = StructType(Seq("repo", "lang").map(StructField(_, StringType)))
    val recorder = new GroupJobs
    spark.sparkContext.addSparkListener(recorder)
    // seed 0 is the empty frame; even seeds carry a 30%-hot key, odd
    // seeds a balanced high-cardinality one; every third seed counts by
    // a two-column key
    try (0 to 7).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val rows = Seq.fill(if (seed == 0) 0 else 200 + rnd.nextInt(600)) {
        val repo = rnd.nextInt(20) match {
          case 0 => null
          case k if seed % 2 == 0 && k < 7 => "hot/r"
          case _ if seed % 2 == 1 => s"o${rnd.nextInt(100000)}/r"
          case _ => s"o${rnd.nextInt(8)}/r"
        }
        (repo, Seq(null, "en", "fr")(rnd.nextInt(3)))
      }
      val keys = if (seed % 3 == 0) Seq("repo", "lang") else Seq("repo")
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (r, l) => Row(r, l) }, 3), schema)
      val expected = rows.groupBy { case (r, l) => Seq(r, l).take(keys.size) }
        .map { case (k, rs) => k -> rs.size.toLong }
      var got = Array.empty[Row]
      val jobs = recorder.jobsOf(s"salted-$seed") {
        got = SaltedAgg.countByKeyAuto(df, keys).collect()
      }
      assert(jobs <= 3, s"seed $seed: $jobs jobs")
      assert(got.length === expected.size, s"seed $seed: one row per key")
      assert(got.map(r => keys.indices.map(r.getString) -> r.getLong(keys.size)).toMap ===
        expected, s"seed $seed")
    } finally spark.sparkContext.removeSparkListener(recorder)
  }

  test("salted count: the shuffle writes at most one partial row per key " +
    "per map task and per reduce task") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val schema = StructType(Seq(StructField("repo", StringType)))
    val reducers = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val recorder = new GroupJobs
    spark.sparkContext.addSparkListener(recorder)
    // 200 rows per map task over 8 keys, one 30%-hot and one NULL; at
    // P = 40 the partition id wraps past the 32 salts
    try Seq(1, 3, 40).foreach { p =>
      val rnd = new scala.util.Random(p)
      val rows = Seq.fill(200 * p)(rnd.nextInt(10) match {
        case 0 | 1 | 2 => "hot/r"
        case 3 => null
        case k => s"o$k/r"
      })
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(Row(_)), p), schema)
      val expected = rows.groupBy(identity).map { case (k, rs) => k -> rs.size.toLong }
      var got = Array.empty[Row]
      val records = recorder.shuffleRecordsOf(s"salted-shuffle-$p") {
        got = SaltedAgg.countByKeyAuto(df, Seq("repo")).collect()
      }
      assert(got.map(r => r.getString(0) -> r.getLong(1)).toMap === expected, s"P = $p")
      // phase 1 writes ≤ one row per key per map task, phase 2 ≤ one
      // per key per reduce task of phase 1
      assert(records <= expected.size * (p + reducers), s"P = $p: $records shuffle records")
    } finally spark.sparkContext.removeSparkListener(recorder)
  }
}

/** Unit behavior of the sifter operator combinators (SURVEY.md §2.2-2.4). */
class RowOpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("fieldType: unparseable casts to null (transform/field_type.go:26-46)") {
    val df = Seq(("1", "x"), ("abc", "y")).toDF("a", "b")
    val out = RowOps.fieldType(df, "a" -> org.apache.spark.sql.types.LongType)
      .collect().map(r => Option(r.get(0)))
    assert(out.toSeq === Seq(Some(1L), None))
  }

  test("fieldParse: k=v;k2=v2 into a map (transform/field_parse.go)") {
    val df = Seq("a=1;b=2").toDF("kv")
    val m = RowOps.fieldParse(df, "kv", "m").select(element_at($"m", "b"))
      .collect()(0).getString(0)
    assert(m === "2")
  }

  test("fieldParse: bare key -> true, empty value stays empty (field_parse.go:44-47)") {
    val df = Seq("a=1;flag;empty=;z=9").toDF("kv")
    val m = RowOps.fieldParse(df, "kv", "m").select($"m")
      .collect()(0).getMap[String, String](0).toMap
    assert(m === Map("a" -> "1", "flag" -> "true", "empty" -> "", "z" -> "9"))
    // bare key first and last, and a lone bare key
    val edges = RowOps.fieldParse(Seq("x;a=1;y").toDF("kv"), "kv", "m")
      .select($"m").collect()(0).getMap[String, String](0).toMap
    assert(edges === Map("x" -> "true", "a" -> "1", "y" -> "true"))
  }

  test("model row types bind to the engine outputs (encoder-enforced schemas)") {
    import graft.model.{ColumnProfile, Verdict, Violation}
    import graft.synth.FilesTable
    import graft.validate.{Profile, Verdicts, Violations}
    val files = FilesTable.files(spark, TestSpark.sf)
    // .as[...] fails at analysis if a field name or type drifts
    val v = Violations.extract(files, graft.rules.FileRules.rowRules).as[Violation]
    assert(v.head().rule_id.nonEmpty)
    val g = Verdicts.compute(spark, files, graft.rules.FileRules.rowRules).as[Verdict]
    assert(g.count() > 0)
    val pr = Profile.columns(files, Seq("repo", "lang")).as[ColumnProfile]
    assert(pr.collect().forall(_.n_rows > 0))
  }

  test("sha256 invariant: hash present but source null is a VIOLATION, not a silent skip") {
    import graft.validate.Violations
    val df = Seq(
      ("r/x", "p", "c", sha256hex("body"), "body"), // pass
      ("r/y", "p", "c", sha256hex("body"), null)    // hash present, source null
    ).toDF("repo", "path", "commit", "content_sha256", "content")
    val rule = graft.rules.Sha256Invariant("sha", "content_sha256", "content")
    val v = Violations.extract(df, Seq(rule), keyCols = Seq("repo"))
      .select("repo").collect().map(_.getString(0))
    assert(v.toSeq === Seq("r/y"))
  }

  private def sha256hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("clean storeExtra: dropped columns gathered into a string map (clean.go:40-47)") {
    val df = Seq((1L, "keep", "x1", 9.5)).toDF("id", "name", "extra1", "extra2")
    val out = RowOps.clean(df, Seq("id", "name"), storeExtra = Some("rest"))
    assert(out.columns.toSeq === Seq("id", "name", "rest"))
    val rest = out.collect()(0).getMap[String, String](2).toMap
    assert(rest === Map("extra1" -> "x1", "extra2" -> "9.5"))
  }

  test("fieldParse: multi-char sep/assign takes the HOF fallback, same semantics") {
    val df = Seq("a:=1||flag||empty:=").toDF("kv")
    val m = RowOps.fieldParse(df, "kv", "m", sep = "||", assign = ":=")
      .select($"m").collect()(0).getMap[String, String](0).toMap
    assert(m === Map("a" -> "1", "flag" -> "true", "empty" -> ""))
  }

  test("lookupCopy: shared column names never collide or drop main columns") {
    val main = Seq((1, "keep-me", "k1"), (2, "keep-too", "k2")).toDF("id", "name", "key")
    val lk = Seq(("k1", "lk-name", "extra1")).toDF("key", "name", "extra")
    val out = RowOps.lookupCopy(main, lk, main("key"), lk("key"),
      "copied_name" -> "name", "copied_extra" -> "extra")
    assert(out.columns.toSet ===
      Set("id", "name", "key", "copied_name", "copied_extra"))
    val r = out.orderBy("id").collect()
    assert(r(0).getAs[String]("name") === "keep-me")   // main col intact
    assert(r(0).getAs[String]("copied_name") === "lk-name")
    assert(r(1).getAs[String]("copied_name") === null) // miss -> null
  }

  test("lookupReplace: hit maps, miss keeps original (transform/lookup.go:154-189)") {
    val df = Seq("x", "y", "z").toDF("f")
    val lk = Seq(("x", "X!"), ("y", "Y!")).toDF("k", "v")
    val out = RowOps.lookupReplace(df, lk, "f", "k", "v")
      .orderBy("f").collect().map(_.getString(0)).toSeq
    assert(out === Seq("X!", "Y!", "z"))
  }

  test("clean removeEmpty: empty strings become null (transform/clean.go)") {
    val df = Seq(("a", ""), ("b", "v")).toDF("x", "y")
    val out = RowOps.clean(df, Seq("x", "y"), removeEmpty = true)
      .orderBy("x").collect().map(r => Option(r.getString(1))).toSeq
    assert(out === Seq(None, Some("v")))
  }

  test("intervalIntersect: inclusive endpoints (transform/lookup_interval.go)") {
    val rows = Seq(("c1", 5, 5), ("c1", 10, 10), ("c2", 5, 5)).toDF("mk", "s", "e")
    val ref = Seq(("c1", 0, 5), ("c1", 6, 9)).toDF("rm", "rs", "re")
    val hits = RowOps.intervalIntersect(rows, ref, "mk", "s", "e", "rm", "rs", "re")
    assert(hits.count() === 1) // only (c1,5) ∩ [0,5]; 10 misses both; c2 has no ref
  }

  test("distinctBy keeps one row per key (transform/distinct.go)") {
    val df = Seq(("k1", 1), ("k1", 2), ("k2", 3)).toDF("k", "v")
    assert(RowOps.distinctBy(df, Seq("k")).count() === 2)
  }

  test("accumulateRows gathers full rows per key, sorted (transform/accumulate.go)") {
    val df = Seq(("k1", 2, "b"), ("k1", 1, "a"), ("k2", 3, "c")).toDF("k", "n", "s")
    val out = RowOps.accumulateRows(df, "k", "rows")
      .orderBy("k").collect()
    assert(out.map(_.getAs[Long]("n_rows")).toSeq === Seq(2L, 1L))
    val k1 = out(0).getSeq[org.apache.spark.sql.Row](1)
    assert(k1.map(_.getInt(0)).toSeq === Seq(1, 2)) // sorted deterministically
  }
}
