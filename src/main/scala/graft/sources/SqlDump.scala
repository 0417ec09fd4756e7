package graft.sources

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{MapType, StringType, StructField, StructType}

/** SQL-dump extractor (extractors/sqldump_step.go:17-112): statements are
  * parsed sequentially; `CREATE TABLE` records the column names of each
  * table, and every row of every `INSERT INTO ... VALUES (...),(...)`
  * emits `{table, data}` where `data` maps the CREATE's column names to
  * the literal values as strings (the reference stringifies every
  * literal; NULL → absent key, mirroring its literal-only capture).
  * An optional `tables` filter keeps only the named tables.
  *
  * One dump file = one sequential parse task (the reference reads the
  * whole dump with io.ReadAll; statement order matters because INSERTs
  * depend on the preceding CREATE), opened through the Hadoop
  * FileSystem; a multi-file glob parses files in parallel.
  */
object SqlDump {

  val schema: StructType = StructType(Seq(
    StructField("table", StringType),
    StructField("data", MapType(StringType, StringType))))

  def load(spark: SparkSession, path: String,
      tables: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    val hconf = spark.sessionState.newHadoopConf()
    val conf = new org.apache.spark.util.SerializableConfiguration(hconf)
    val fs = new HPath(path).getFileSystem(hconf)
    val files = (fs.globStatus(new HPath(path)) match {
      case null => Array.empty[org.apache.hadoop.fs.FileStatus]
      case st => st
    }).map(_.getPath.toString).sorted.toIndexedSeq
    require(files.nonEmpty, s"sqldump source '$path': no files match")
    val keep = tables.toSet
    val rdd = spark.sparkContext.parallelize(files, files.length).flatMap { f =>
      val p = new HPath(f)
      val raw = p.getFileSystem(conf.value).open(p)
      val in = if (f.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw) else raw
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      parse(text, keep).map { case (t, d) => Row(t, d) }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Parse a dump into (table, data) rows. */
  def parse(dump: String, keep: Set[String] = Set.empty): Seq[(String, Map[String, String])] = {
    val tableColumns = mutable.Map.empty[String, Seq[String]]
    val out = mutable.ArrayBuffer.empty[(String, Map[String, String])]
    statements(dump).foreach { stmt =>
      val s = stmt.trim
      val up = s.toUpperCase
      // \s+ between keywords: `INSERT\nINTO` / `CREATE  TABLE` are
      // legal SQL — a single-space startsWith would silently DROP such
      // statements (and a dropped CREATE loses the column names for
      // every later INSERT of that table)
      if (up.matches("(?s)CREATE\\s+TABLE\\b.*")) {
        createTable(s).foreach { case (name, cols) => tableColumns(name) = cols }
      } else if (up.matches("(?s)INSERT\\s+(IGNORE\\s+)?INTO\\b.*")) {
        insertRows(s, tableColumns).foreach { case (name, rows) =>
          if (keep.isEmpty || keep(name)) out ++= rows.map(name -> _)
        }
      }
    }
    out.toSeq
  }

  /** Split on top-level ';' (outside quoted strings). Handles MySQL/pg
    * quoting ('' doubling, backslash escapes) and strips double-dash
    * line comments and slash-star block comments outside strings. */
  private[sources] def statements(text: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var i = 0
    var quote: Char = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (quote != 0) {
        cur += c
        if (c == '\\' && i + 1 < text.length) { cur += text.charAt(i + 1); i += 1 }
        else if (c == quote) {
          if (i + 1 < text.length && text.charAt(i + 1) == quote) {
            cur += quote; i += 1 // '' doubling stays inside the string
          } else quote = 0
        }
        i += 1
      } else if (c == '-' && i + 1 < text.length && text.charAt(i + 1) == '-') {
        while (i < text.length && text.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < text.length && text.charAt(i + 1) == '*') {
        val end = text.indexOf("*/", i + 2)
        i = if (end < 0) text.length else end + 2
      } else {
        c match {
          case '\'' | '"' | '`' => quote = c; cur += c
          case ';' => out += cur.toString; cur.clear()
          case _ => cur += c
        }
        i += 1
      }
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString
    out.toSeq
  }

  private def unquoteIdent(s: String): String =
    s.trim.stripPrefix("`").stripSuffix("`")
      .stripPrefix("\"").stripSuffix("\"")

  /** `CREATE TABLE [IF NOT EXISTS] name ( coldefs )` → (name, colNames).
    * Constraint clauses (PRIMARY KEY, KEY, UNIQUE, CONSTRAINT, INDEX,
    * FOREIGN) are not columns. */
  private[sources] def createTable(stmt: String): Option[(String, Seq[String])] = {
    val open = stmt.indexOf('(')
    if (open < 0) return None
    val head = stmt.substring(0, open).trim.split("\\s+")
    val name = unquoteIdent(head.last)
    val body = stmt.substring(open + 1, matchParen(stmt, open))
    val defs = splitTopLevel(body, ',')
    val nonCols = Set("PRIMARY", "KEY", "UNIQUE", "CONSTRAINT", "INDEX", "FOREIGN", "CHECK")
    val cols = defs.flatMap { d =>
      val t = d.trim
      if (t.isEmpty) None
      else {
        val first = t.split("\\s+")(0)
        if (nonCols(first.toUpperCase)) None else Some(unquoteIdent(first))
      }
    }
    Some((name, cols))
  }

  /** `INSERT INTO name [(cols)] VALUES (...),(...)` → (name, data rows).
    * Column names come from the INSERT's own list when present, else
    * from the preceding CREATE TABLE. */
  private[sources] def insertRows(stmt: String,
      tableColumns: collection.Map[String, Seq[String]]): Option[(String, Seq[Map[String, String]])] = {
    val m = "(?is)INSERT\\s+(?:IGNORE\\s+)?INTO\\s+(\\S+?)\\s*(\\(.*?\\))?\\s*VALUES\\s*".r
      .findFirstMatchIn(stmt)
    m.map { mm =>
      val name = unquoteIdent(mm.group(1))
      val explicitCols = Option(mm.group(2)).map(g =>
        splitTopLevel(g.trim.stripPrefix("(").stripSuffix(")"), ',').map(unquoteIdent))
      val cols = explicitCols.orElse(tableColumns.get(name)).getOrElse(Seq.empty)
      val rest = stmt.substring(mm.end)
      val rows = tupleGroups(rest).map { tup =>
        splitTopLevel(tup, ',').zipWithIndex.flatMap { case (v, i) =>
          literal(v.trim).flatMap(lv =>
            if (i < cols.length) Some(cols(i) -> lv)
            else Some(s"_c$i" -> lv))
        }.toMap
      }
      (name, rows)
    }
  }

  /** Top-level `( ... )` groups of a VALUES clause: group, comma,
    * group, ... — scanning STOPS at the first token that is not a
    * comma between groups, so a trailing `ON DUPLICATE KEY UPDATE
    * a=VALUES(a)` / `ON CONFLICT ... / RETURNING ...` clause is never
    * mined for parens (its `VALUES(a)` would otherwise emit a phantom
    * empty row). */
  private def tupleGroups(s: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    var expectGroup = true
    var done = false
    while (i < s.length && !done) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (expectGroup && c == '(') {
        val close = matchParen(s, i)
        out += s.substring(i + 1, close)
        i = close + 1
        expectGroup = false
      } else if (!expectGroup && c == ',') {
        i += 1
        expectGroup = true
      } else done = true // trailing clause (ON DUPLICATE/CONFLICT, RETURNING...)
    }
    out.toSeq
  }

  /** Index of the ')' matching the '(' at `open`, quote-aware. */
  private def matchParen(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == '\\') i += 1
        else if (c == quote) {
          if (i + 1 < s.length && s.charAt(i + 1) == quote) i += 1 else quote = 0
        }
      } else c match {
        case '\'' | '"' | '`' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ => ()
      }
      i += 1
    }
    s.length
  }

  /** Split on `sep` outside quotes/parens. */
  private def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        cur += c
        if (c == '\\' && i + 1 < s.length) { cur += s.charAt(i + 1); i += 1 }
        else if (c == quote) {
          if (i + 1 < s.length && s.charAt(i + 1) == quote) { cur += quote; i += 1 }
          else quote = 0
        }
      } else c match {
        case '\'' | '"' | '`' => quote = c; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case `sep` if depth == 0 => out += cur.toString; cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    out += cur.toString
    out.toSeq
  }

  /** SQL literal → string value; NULL and non-literals (expressions,
    * function calls) → None, matching the reference's Literal-only
    * capture. */
  private[sources] def literal(v: String): Option[String] = {
    if (v.isEmpty || v.equalsIgnoreCase("NULL")) None
    else if (v.charAt(0) == '\'' || v.charAt(0) == '"') {
      val q = v.charAt(0)
      if (v.length < 2 || v.last != q) None
      else {
        val body = v.substring(1, v.length - 1)
        val sb = new StringBuilder
        var i = 0
        while (i < body.length) {
          val c = body.charAt(i)
          if (c == '\\' && i + 1 < body.length) {
            val n = body.charAt(i + 1)
            sb += (n match {
              case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
              case other => other
            })
            i += 2
          } else if (c == q && i + 1 < body.length && body.charAt(i + 1) == q) {
            sb += q; i += 2
          } else { sb += c; i += 1 }
        }
        Some(sb.toString)
      }
    } else if (v.matches("[-+]?[0-9]*\\.?[0-9]+([eE][-+]?[0-9]+)?")) Some(v)
    else if (v.equalsIgnoreCase("TRUE") || v.equalsIgnoreCase("FALSE"))
      Some(v.toLowerCase)
    else None
  }
}
