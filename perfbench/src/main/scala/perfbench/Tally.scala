package perfbench

import scala.collection.mutable

/** Every outcome the benchmark checks, computed from the generator's
  * rows in plain Scala, without Spark and without the engine's rule
  * compiler: the north rules are restated here by hand. */
final class Tally(spec: Spec) {
  val ruleIds: Seq[String] = Seq("required_repo", "required_path", "required_commit",
    "required_lang", "required_content", "pattern_repo", "pattern_path",
    "pattern_commit", "enum_lang", "sha256_content")
  val profiled: Seq[String] = Seq("repo", "path", "commit", "lang", "content")

  private val RepoRx = "^[A-Za-z0-9._-]+/[A-Za-z0-9._-]+$".r.pattern
  private val PathRx = "^src/[A-Za-z0-9_./-]+$".r.pattern
  private val CommitRx = "^[0-9a-f]{7,40}$".r.pattern
  private val LangSet = Gen.Langs.toSet
  private val manifest = Gen.manifestRepos(spec).toSet

  var rows = 0L
  val ruleCounts = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** (org, rule) → violations; every org present gets every rule. */
  val cells = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
  val orgRows = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val repoRows = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val dupKeys = mutable.Set.empty[(String, String, String)]
  val nulls = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val minLen = mutable.Map.empty[String, Int]
  val maxLen = mutable.Map.empty[String, Int]
  private val distinctHashes = profiled.map(_ -> mutable.LongMap.empty[Unit]).toMap
  /** (batch, length bucket) → rows */
  val lengthHist = mutable.Map.empty[(Int, Long), Long].withDefaultValue(0L)
  // playbook outcomes: objectValidate drops, lookup hits, graph shape
  var validateErrors = 0L
  var lookupHits = 0L
  val validDistinct = mutable.Set.empty[String] // file ids
  val orphanEdgeIds = mutable.Set.empty[String] // file ids whose repo is not in the manifest

  private var lastId: String = null

  private def fails(r: GenRow): Seq[String] = {
    def present(v: String) = v != null
    Seq(
      "required_repo" -> present(r.repo), "required_path" -> present(r.path),
      "required_commit" -> present(r.commit), "required_lang" -> present(r.lang),
      "required_content" -> present(r.content),
      "pattern_repo" -> (r.repo == null || RepoRx.matcher(r.repo).find()),
      "pattern_path" -> (r.path == null || PathRx.matcher(r.path).find()),
      "pattern_commit" -> (r.commit == null || CommitRx.matcher(r.commit).find()),
      "enum_lang" -> (r.lang == null || LangSet(r.lang)),
      "sha256_content" -> (r.content != null && r.content_sha256 == Gen.sha256Hex(r.content))
    ).collect { case (id, false) => id }
  }

  Gen.rows(spec).foreach { r =>
    rows += 1
    val org = r.repo.split("/")(0)
    orgRows(org) += 1
    repoRows(r.repo) += 1
    val bad = fails(r)
    bad.foreach { id => ruleCounts(id) += 1; cells((org, id)) += 1 }
    if (r.id == lastId) dupKeys += ((r.repo, r.path, r.commit))
    lastId = r.id
    Seq("repo" -> r.repo, "path" -> r.path, "commit" -> r.commit, "lang" -> r.lang,
      "content" -> r.content).foreach { case (c, v) =>
      if (v == null) nulls(c) += 1
      else {
        minLen(c) = math.min(minLen.getOrElse(c, Int.MaxValue), v.length)
        maxLen(c) = math.max(maxLen.getOrElse(c, 0), v.length)
        distinctHashes(c).update(Tally.fnv64(v), ())
      }
    }
    lengthHist((r.batch, r.content.length / Gen.BucketWidth)) += 1
    // the playbook's File schema: required id/repo/path/commit/lang,
    // repo/path/commit patterns, lang enum
    val valid = r.lang != null && LangSet(r.lang) && PathRx.matcher(r.path).find() &&
      RepoRx.matcher(r.repo).find() && CommitRx.matcher(r.commit).find()
    if (!valid) validateErrors += 1
    if (manifest(r.repo)) lookupHits += 1
    if (valid) {
      validDistinct += r.id
      if (!manifest(r.repo)) orphanEdgeIds += r.id
    }
  }

  def orgs: Set[String] = orgRows.keySet.toSet
  def lookupMisses: Long = rows - lookupHits
  def orphanRepos: Map[String, Long] = repoRows.filter { case (r, _) => !manifest(r) }.toMap
  def distinctCount(c: String): Long = distinctHashes(c).size.toLong

  /** Two-sample KS distance between batch 0 and batch 1 content lengths,
    * bucketed by [[Gen.BucketWidth]], rounded half-up to 9 places. */
  def ks: Double = {
    val buckets = lengthHist.keys.map(_._2).toSeq.distinct.sorted
    val n0 = buckets.map(b => lengthHist((0, b))).sum.toDouble
    val n1 = buckets.map(b => lengthHist((1, b))).sum.toDouble
    var c0 = 0L; var c1 = 0L; var best = 0.0
    buckets.foreach { b =>
      c0 += lengthHist((0, b)); c1 += lengthHist((1, b))
      best = math.max(best, math.abs(c0 / n0 - c1 / n1))
    }
    BigDecimal(best).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
  }
}

object Tally {
  def async(spec: Spec): scala.concurrent.Future[Tally] =
    scala.concurrent.Future(new Tally(spec))(scala.concurrent.ExecutionContext.global)

  def await(f: scala.concurrent.Future[Tally]): Tally =
    scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)

  /** 64-bit FNV-1a over the string's chars: distinct counting without
    * keeping every value. */
  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    h
  }
}
