package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** One generated row of the files table `(repo, path, commit, lang,
  * content, content_sha256)`, plus the ingest `batch` the drift check
  * splits on and a file `id` for the playbook's graph vertices. */
final case class GenRow(id: String, repo: String, path: String, commit: String,
    lang: String, content: String, content_sha256: String, batch: Int)

/** Size of one generated input. `rows` counts base rows; planted
  * duplicates come on top of them. */
final case class Spec(seed: Long, rows: Int, orgs: Int, reposPerOrg: Int = 8)

/** Seeded input generator. Every row is a pure function of
  * `(seed, index)`, so Spark tasks generate the table in parallel while
  * [[Tally]] walks the same rows in plain Scala, without Spark.
  *
  * Planted defects, per mille of base rows, at most one per row:
  * missing `lang` 30, off-enum `lang` 20, bad `path` 20, corrupted
  * `content_sha256` 10, exact duplicate row 10. Independently of those,
  * 30% of rows belong to the hot repo `bigorg/monorepo`, one repo in 16
  * is left out of the manifest, and the second half of the rows
  * (`batch` 1) has content 48 characters longer than the first. */
object Gen {
  val Langs: Vector[String] = Vector("en", "fr", "es", "de", "zh")
  val HotRepo = "bigorg/monorepo"
  val HotPercent = 30
  val OffEnumLang = "klingon"
  val DriftShift = 48
  val BucketWidth = 64

  // defect bands over floorMod(hash, 1000)
  private val MissingLang = 0 until 30
  private val OffEnum = 30 until 50
  private val BadPath = 50 until 70
  private val BadSha = 70 until 80
  private val Duplicate = 80 until 90

  private val Words = Vector("fn", "let", "val", "return", "if", "else", "match",
    "case", "yield", "import", "object", "class", "self", "data", "row", "map",
    "filter", "reduce", "key", "value", "null", "true", "false", "loop", "emit",
    "graph", "edge", "vertex", "table", "spark", "rule", "check")

  /** splitmix64 finaliser. */
  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def hash(seed: Long, i: Long, salt: Long): Long =
    mix(mix(seed * 0x9E3779B97F4A7C15L + salt) + i)

  def sha256Hex(s: String): String = {
    val d = MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
    val sb = new java.lang.StringBuilder(64)
    d.foreach(b => sb.append(Character.forDigit((b >> 4) & 0xF, 16))
      .append(Character.forDigit(b & 0xF, 16)))
    sb.toString
  }

  def repoName(org: Int, r: Int): String = f"org$org%02d/repo$r%d"

  def allRepos(spec: Spec): Seq[String] =
    HotRepo +: (for (o <- 0 until spec.orgs; r <- 0 until spec.reposPerOrg)
      yield repoName(o, r))

  /** Repos the manifest omits: one in 16, at a seed-dependent offset. */
  def isOrphanRepo(spec: Spec, repo: String): Boolean = repo != HotRepo && {
    val o = repo.substring(3, 5).toInt
    val r = repo.substring(repo.lastIndexOf("repo") + 4).toInt
    Math.floorMod(o * spec.reposPerOrg + r - spec.seed, 16L) == 0
  }

  def manifestRepos(spec: Spec): Seq[String] = allRepos(spec).filterNot(isOrphanRepo(spec, _))

  /** Canonical manifest id of a repo (what the playbook's lookup maps to). */
  def repoId(repo: String): String = "R-" + repo.replace('/', '.')

  private def content(seed: Long, i: Long, len: Int): String = {
    val sb = new java.lang.StringBuilder(len + 8)
    var s = hash(seed, i, 4)
    while (sb.length < len) {
      s = mix(s + 0x9E3779B97F4A7C15L)
      sb.append(Words(((s >>> 33) % Words.size).toInt)).append(' ')
    }
    sb.setLength(len)
    sb.toString
  }

  /** Base row `i` with its planted defects: one row, or two identical
    * rows when `i` is a planted duplicate. */
  def rowsAt(spec: Spec, i: Long): Seq[GenRow] = {
    val a = hash(spec.seed, i, 1)
    val b = hash(spec.seed, i, 2)
    val c = hash(spec.seed, i, 3)
    val repo =
      if (Math.floorMod(a, 100L) < HotPercent) HotRepo
      else repoName(Math.floorMod(a >>> 8, spec.orgs.toLong).toInt,
        Math.floorMod(a >>> 24, spec.reposPerOrg.toLong).toInt)
    val d = Math.floorMod(b, 1000L).toInt
    val batch = if (i < spec.rows / 2) 0 else 1
    val path = if (BadPath.contains(d)) s"bad path/f$i.py" else s"src/m${i % 97}/f$i.py"
    val commit = f"${c & 0xFFFFFFFFFFFFL}%012x"
    val lang =
      if (MissingLang.contains(d)) null
      else if (OffEnum.contains(d)) OffEnumLang
      else Langs(Math.floorMod(c >>> 48, Langs.size.toLong).toInt)
    val len = 40 + batch * DriftShift + Math.floorMod(b >>> 16, 320L).toInt
    val text = content(spec.seed, i, len)
    val sha = if (BadSha.contains(d)) sha256Hex(text + "#") else sha256Hex(text)
    val row = GenRow(s"f$i", repo, path, commit, lang, text, sha, batch)
    if (Duplicate.contains(d)) Seq(row, row) else Seq(row)
  }

  def rows(spec: Spec): Iterator[GenRow] =
    Iterator.range(0, spec.rows).flatMap(i => rowsAt(spec, i.toLong))
}
