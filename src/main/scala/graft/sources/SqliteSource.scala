package graft.sources

import scala.collection.mutable
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** SQLite source (extractors/sqlite_load.go:13-65) with NO driver jar:
  * a minimal read-only parser of the public SQLite file format
  * (https://www.sqlite.org/fileformat2.html) — header, table B-trees
  * (interior/leaf pages), record serial types, and overflow-page
  * chains. Enough to read every row of a named table, which is what
  * the reference's `query` is used for (it scans all values through
  * sql.NullString, so every column is a nullable STRING and SQL NULL
  * is a missing value — here a null cell, the fixed-schema analog).
  * Projections/filters compose in Spark on top.
  *
  * Unlike the reference (single-threaded database/sql scan), the read
  * is PARTITIONED: the driver touches only the header, sqlite_master,
  * and the top interior pages of the table's b-tree — enough to split
  * the tree into subtree roots — and each Spark task walks its own
  * subtrees against a page-cached random-access view of the file. A
  * multi-GB sqlite file therefore never materializes on the driver
  * (files ≤ [[SqliteSource.BufferCap]] are still read into one array,
  * which is faster for the config-sized lookup tables sifter playbooks
  * actually use). An `INTEGER PRIMARY KEY` column is the rowid alias:
  * stored as NULL in the record, materialized from the rowid, per the
  * format spec. WITHOUT ROWID tables and indexes are not supported.
  */
object SqliteSource {

  /** Files at or below this buffer fully (driver AND tasks); above it
    * pages are fetched on demand through an LRU block cache. Tests
    * force the paged path on small fixtures via [[bufferCapOverride]] —
    * a DRIVER-side knob: [[table]] captures its value once at plan
    * build and ships the captured Long in the task closure, so it works
    * on real executors and a concurrent flip cannot affect a read
    * already planned. */
  private val BufferCap: Long = 64L << 20
  @volatile private[graft] var bufferCapOverride: Option[Long] = None

  private def openBytes(path: String,
      hconf: org.apache.hadoop.conf.Configuration,
      cap: Long = BufferCap): Bytes = {
    import org.apache.hadoop.fs.{Path => HPath}
    val p = new HPath(path)
    val fs = p.getFileSystem(hconf)
    val len = fs.getFileStatus(p).getLen
    if (len <= cap) {
      val bytes = new Array[Byte](len.toInt)
      val in = fs.open(p)
      try in.readFully(0, bytes) finally in.close()
      new ArrayBytes(bytes)
    } else new CachedFileBytes(fs.open(p), len)
  }

  def table(spark: SparkSession, path: String, tableName: String): DataFrame = {
    val hconf = spark.sessionState.newHadoopConf()
    val cap = bufferCapOverride.getOrElse(BufferCap) // captured once, see above
    // tasks must resolve the path with the DRIVER's filesystem settings
    // (fs.defaultFS, object-store credentials set via spark.hadoop.*) —
    // a fresh default Configuration would silently read a different
    // filesystem or fail auth. Hadoop's Configuration isn't
    // Serializable, so ship its entries and rebuild per task.
    val confKV: Array[(String, String)] = {
      import scala.jdk.CollectionConverters._
      hconf.iterator().asScala.map(e => e.getKey -> e.getValue).toArray
    }
    def taskConf(): org.apache.hadoop.conf.Configuration = {
      val c = new org.apache.hadoop.conf.Configuration(false)
      confKV.foreach { case (k, v) => c.set(k, v) }
      c
    }
    val driverBytes = openBytes(path, hconf, cap)
    val (cols, affinities, ipkIdx, rootPage, roots) =
      try {
        val db = new Db(driverBytes)
        val (c, a, i, r) = db.tableInfo(tableName)
        // enough subtrees for every core to get a few (task skew from
        // uneven subtrees averages out when tasks ≫ cores is possible)
        val rts = if (r == 0) Seq.empty[Long]
          else db.subtreeRoots(r, spark.sparkContext.defaultParallelism)
        (c, a, i, r, rts)
      } finally driverBytes.close()
    val schema = StructType(cols.map(c => StructField(c, StringType)))
    val mk = mkRow(affinities, ipkIdx, cols.length) _
    if (roots.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    else {
      // contiguous chunks keep b-tree (rowid) order across partitions
      val nParts = math.min(roots.length, math.max(2, spark.sparkContext.defaultParallelism))
      val groups = chunk(roots, nParts)
      val rdd = spark.sparkContext.parallelize(groups, groups.length)
        .mapPartitions { it =>
          val bytes = openBytes(path, taskConf(), cap)
          Option(TaskContext.get()).foreach(
            _.addTaskCompletionListener[Unit](_ => bytes.close()))
          val db = new Db(bytes)
          it.flatMap(_.iterator.flatMap(pg =>
            db.tableRowsIter(pg).map { case (rowid, vals) => mk(rowid, vals) }))
        }
      spark.createDataFrame(rdd, schema)
    }
  }

  private def chunk(xs: Seq[Long], n: Int): Seq[Seq[Long]] = {
    val per = math.max(1, (xs.length + n - 1) / n)
    xs.grouped(per).toSeq
  }

  /** Stringify one decoded record (shared by driver and task paths). */
  private def mkRow(affinities: IndexedSeq[Char], ipkIdx: Int, nCols: Int)(
      rowid: Long, vals: IndexedSeq[Option[Any]]): Row =
    Row((0 until nCols).map { i =>
      if (i == ipkIdx) rowid.toString
      else if (i < vals.length) vals(i).map {
        // REAL affinity: SQLite stores integral reals as integers on
        // disk and converts back on read — so must we
        case l: Long if affinities(i) == 'R' => l.toDouble.toString
        case l: Long => l.toString
        case d: Double => d.toString
        case s: String => s
      }.orNull
      else null
    }: _*)

  /** List of (name, sql) for all tables in the file. */
  def tables(spark: SparkSession, path: String): Seq[(String, String)] = {
    val bytes = openBytes(path, spark.sessionState.newHadoopConf())
    try new Db(bytes).masterRows.collect {
      case ("table", name, _, sql) => (name, sql)
    } finally bytes.close()
  }

  /** Random-access byte view of the database file. Implementations
    * need not be thread-safe: each task builds its own. */
  private trait Bytes {
    def length: Long
    def get(off: Long): Byte
    def copy(off: Long, dst: Array[Byte], dstOff: Int, len: Int): Unit
    def close(): Unit = ()
  }

  private final class ArrayBytes(a: Array[Byte]) extends Bytes {
    val length: Long = a.length.toLong
    def get(off: Long): Byte = a(off.toInt)
    def copy(off: Long, dst: Array[Byte], dstOff: Int, len: Int): Unit =
      System.arraycopy(a, off.toInt, dst, dstOff, len)
  }

  /** Positioned reads through a small LRU of 64 KiB blocks — the b-tree
    * walk touches pages (and their overflow chains) with strong
    * locality, so a handful of blocks covers a subtree scan while a
    * multi-GB file stays on disk. */
  private final class CachedFileBytes(
      in: org.apache.hadoop.fs.FSDataInputStream, val length: Long)
      extends Bytes {
    private val BlockBits = 16
    private val BlockSize = 1 << BlockBits
    private val MaxBlocks = 256 // 16 MiB resident per reader
    private val cache = new java.util.LinkedHashMap[Long, Array[Byte]](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Long, Array[Byte]]): Boolean =
        size() > MaxBlocks
    }
    private def block(idx: Long): Array[Byte] = {
      var b = cache.get(idx)
      if (b == null) {
        val off = idx << BlockBits
        val len = math.min(BlockSize.toLong, length - off).toInt
        b = new Array[Byte](len)
        in.readFully(off, b, 0, len)
        cache.put(idx, b)
      }
      b
    }
    def get(off: Long): Byte = block(off >> BlockBits)((off & (BlockSize - 1)).toInt)
    def copy(off: Long, dst: Array[Byte], dstOff: Int, len: Int): Unit = {
      var o = off; var d = dstOff; var left = len
      while (left > 0) {
        val b = block(o >> BlockBits)
        val bo = (o & (BlockSize - 1)).toInt
        val take = math.min(left, b.length - bo)
        System.arraycopy(b, bo, dst, d, take)
        o += take; d += take; left -= take
      }
    }
    override def close(): Unit = in.close()
  }

  private final class Db(bytes: Bytes) {
    require(bytes.length >= 100 && {
      val magic = new Array[Byte](15)
      bytes.copy(0, magic, 0, 15)
      new String(magic, "UTF-8") == "SQLite format 3"
    }, "not a SQLite 3 database file")
    private val pageSizeRaw = u16(16)
    val pageSize: Int = if (pageSizeRaw == 1) 65536 else pageSizeRaw
    private val reserved = u8(20)
    val usable: Int = pageSize - reserved

    private def u8(off: Long): Int = bytes.get(off) & 0xff
    private def u16(off: Long): Int = ((bytes.get(off) & 0xff) << 8) | (bytes.get(off + 1) & 0xff)
    private def u32(off: Long): Long =
      ((bytes.get(off) & 0xffL) << 24) | ((bytes.get(off + 1) & 0xffL) << 16) |
        ((bytes.get(off + 2) & 0xffL) << 8) | (bytes.get(off + 3) & 0xffL)

    /** (value, bytesConsumed) big-endian 7-bit varint, 9th byte = 8 bits. */
    private def varint(off: Long): (Long, Int) = {
      var v = 0L
      var i = 0
      while (i < 8) {
        val b = bytes.get(off + i)
        v = (v << 7) | (b & 0x7fL)
        if ((b & 0x80) == 0) return (v, i + 1)
        i += 1
      }
      ((v << 8) | (bytes.get(off + 8) & 0xffL), 9)
    }

    private def pageOff(page: Long): Long = (page - 1) * pageSize

    /** Full payload of a leaf-table cell, following overflow chains. */
    private def payload(off0: Long, total: Long): Array[Byte] = {
      val x = usable - 35
      val inline: Int =
        if (total <= x) total.toInt
        else {
          val m = (usable - 12) * 32 / 255 - 23
          val k = m + ((total - m) % (usable - 4)).toInt
          if (k <= x) k else m
        }
      val out = new Array[Byte](total.toInt)
      bytes.copy(off0, out, 0, inline)
      var done = inline
      if (inline < total) {
        var over = u32(off0 + inline)
        while (over != 0 && done < total) {
          val po = pageOff(over)
          over = u32(po)
          val take = math.min(usable - 4, total.toInt - done)
          bytes.copy(po + 4, out, done, take)
          done += take
        }
      }
      out
    }

    /** Decode a record into per-column values (None = SQL NULL; Long /
      * Double / String otherwise — stringified by the caller with
      * column affinity applied, matching the reference's
      * scan-everything-as-NullString through the sqlite engine). */
    private def record(payload: Array[Byte]): IndexedSeq[Option[Any]] = {
      def pvarint(off: Int): (Long, Int) = {
        var v = 0L
        var i = 0
        while (i < 8) {
          val b = payload(off + i)
          v = (v << 7) | (b & 0x7fL)
          if ((b & 0x80) == 0) return (v, i + 1)
          i += 1
        }
        ((v << 8) | (payload(off + 8) & 0xffL), 9)
      }
      val (hlen, h0) = pvarint(0)
      val types = mutable.ArrayBuffer.empty[Long]
      var ho = h0
      while (ho < hlen) {
        val (t, n) = pvarint(ho)
        types += t
        ho += n
      }
      var bo = hlen.toInt
      def sint(n: Int): Long = {
        var v: Long = payload(bo).toLong // Byte -> Long sign-extends
        var i = 1
        while (i < n) { v = (v << 8) | (payload(bo + i) & 0xffL); i += 1 }
        v
      }
      types.map { t =>
        val (v: Option[Any], sz: Int) = t match {
          case 0 => (None, 0)
          case 1 => (Some(sint(1)), 1)
          case 2 => (Some(sint(2)), 2)
          case 3 => (Some(sint(3)), 3)
          case 4 => (Some(sint(4)), 4)
          case 5 => (Some(sint(6)), 6)
          case 6 => (Some(sint(8)), 8)
          case 7 =>
            val bits = (0 until 8).foldLeft(0L)((a, i) => (a << 8) | (payload(bo + i) & 0xffL))
            (Some(java.lang.Double.longBitsToDouble(bits)), 8)
          case 8 => (Some(0L), 0)
          case 9 => (Some(1L), 0)
          case n if n >= 12 && n % 2 == 0 =>
            val l = ((n - 12) / 2).toInt
            (Some(new String(payload, bo, l, "UTF-8")), l)
          case n if n >= 13 =>
            val l = ((n - 13) / 2).toInt
            (Some(new String(payload, bo, l, "UTF-8")), l)
          case other => sys.error(s"unsupported serial type $other")
        }
        bo += sz
        v
      }.toIndexedSeq
    }

    /** Children of an interior table page, left-to-right (cell pointers
      * then the right-most pointer). */
    private def interiorChildren(pg: Long): Seq[Long] = {
      val base = pageOff(pg)
      val hdr = if (pg == 1) base + 100 else base
      val ncells = u16(hdr + 3)
      (0 until ncells).map(i => u32(base + u16(hdr + 12 + 2 * i))) :+ u32(hdr + 8)
    }

    private def pageType(pg: Long): Int = {
      val base = pageOff(pg)
      u8(if (pg == 1) base + 100 else base)
    }

    /** Split the table b-tree rooted at `page` into ≥ `target` subtree
      * roots when the tree has that much fan-out — only INTERIOR pages
      * are touched (a few KB for any file size): the frontier expands
      * level by level until it is wide enough or all-leaf. Walking the
      * returned pages in order visits every row exactly once in rowid
      * order. */
    def subtreeRoots(page: Long, target: Int): Seq[Long] = {
      var frontier: Seq[Long] = Seq(page)
      var expandable = true
      while (frontier.length < target && expandable) {
        expandable = false
        frontier = frontier.flatMap { pg =>
          pageType(pg) match {
            case 5 =>
              val kids = interiorChildren(pg)
              if (kids.nonEmpty) { expandable = true; kids } else Seq(pg)
            case _ => Seq(pg)
          }
        }
      }
      frontier
    }

    /** LAZY left-to-right walk of the table b-tree rooted at `page`:
      * cells decode one at a time as the iterator is pulled, so a task
      * scanning a multi-GB subtree holds one decoded row (plus the
      * page cache) — never the subtree. Rowid order is preserved
      * (children pushed right-to-left onto the DFS stack). */
    def tableRowsIter(page: Long): Iterator[(Long, IndexedSeq[Option[Any]])] =
      new Iterator[(Long, IndexedSeq[Option[Any]])] {
        private val stack = mutable.Stack[Long](page)
        private var leafBase = 0L
        private var leafHdr = 0L
        private var leafCell = 0
        private var leafNCells = 0
        private def descend(): Unit =
          while (leafCell >= leafNCells && stack.nonEmpty) {
            val pg = stack.pop()
            val base = pageOff(pg)
            val hdr = if (pg == 1) base + 100 else base
            u8(hdr) match {
              case 13 =>
                leafBase = base; leafHdr = hdr
                leafCell = 0; leafNCells = u16(hdr + 3)
              case 5 =>
                interiorChildren(pg).reverseIterator.foreach(stack.push)
              case other => sys.error(s"unexpected page type $other in table b-tree")
            }
          }
        def hasNext: Boolean = { descend(); leafCell < leafNCells }
        def next(): (Long, IndexedSeq[Option[Any]]) = {
          if (!hasNext) throw new NoSuchElementException("table b-tree exhausted")
          val cell = leafBase + u16(leafHdr + 8 + 2 * leafCell)
          leafCell += 1
          val (plen, n1) = varint(cell)
          val (rowid, n2) = varint(cell + n1)
          (rowid, record(payload(cell + n1 + n2, plen)))
        }
      }

    /** All (rowid, values) of the table b-tree rooted at `page`
      * (driver-side convenience for sqlite_master and small tables). */
    def tableRows(page: Long): Seq[(Long, IndexedSeq[Option[Any]])] =
      tableRowsIter(page).toSeq

    /** sqlite_master rows: (type, name, rootpage, sql). */
    def masterRows: Seq[(String, String, Long, String)] =
      tableRows(1).map { case (_, vals) =>
        def s(i: Int) = vals.lift(i).flatten.map(_.toString).getOrElse("")
        val root = vals.lift(3).flatten.collect { case l: Long => l }.getOrElse(0L)
        (s(0), s(1), root, s(4))
      }

    private def unquoteIdent(s: String): String =
      s.trim.stripPrefix("`").stripSuffix("`")
        .stripPrefix("\"").stripSuffix("\"")
        .stripPrefix("[").stripSuffix("]")

    /** (columns, per-column affinity, integer-primary-key index or -1,
      * rootpage). Names, affinities, AND the ipk index all derive from
      * the SAME splitDefs pass — SQLite has no backslash string escapes,
      * so reusing a MySQL-dialect parser (SqlDump) for the names could
      * split differently around literals like DEFAULT 'C:\' and
      * misalign the indices. Affinity follows the spec's type-name
      * determination rules in order: INT > CHAR/CLOB/TEXT > BLOB/none >
      * REAL/FLOA/DOUB > NUMERIC. */
    def tableInfo(name: String): (Seq[String], IndexedSeq[Char], Int, Long) = {
      val m = masterRows.find(r => r._1 == "table" && r._2 == name)
        .getOrElse(sys.error(s"table '$name' not found in sqlite file"))
      // \b guard: `x MYINTEGER PRIMARY KEY` must not match (the alias
      // requires the declared type be exactly INTEGER). The (?!\s+DESC)
      // guard encodes the documented SQLite quirk: inline `INTEGER
      // PRIMARY KEY DESC` does NOT alias the rowid (real values are
      // stored; verified against a sqlite3-written fixture) — while the
      // table-level `PRIMARY KEY(x DESC)` form DOES.
      val ipkRx = "(?is)\\bINTEGER\\s+PRIMARY\\s+KEY(?!\\s+DESC\\b)".r
      // strip quoted literals so a DEFAULT 'INTEGER PRIMARY KEY' string
      // cannot falsely mark its column as the alias
      def stripQuoted(s: String): String =
        s.replaceAll("'[^']*'", "''").replaceAll("\"[^\"]*\"", "\"\"")
      // COLUMN defs only (constraint clauses like `PRIMARY KEY (id)`
      // are not columns and don't count toward indices)
      val open = m._4.indexOf('(')
      require(open >= 0, s"cannot parse CREATE TABLE for '$name'")
      val body = m._4.substring(open + 1, m._4.lastIndexOf(')'))
      val nonCols = Set("PRIMARY", "KEY", "UNIQUE", "CONSTRAINT", "INDEX", "FOREIGN", "CHECK")
      val allDefs = splitDefs(body).map(_.trim).filter(_.nonEmpty)
      val (constraintDefs, colDefs) =
        allDefs.partition(d => nonCols(d.split("\\s+")(0).toUpperCase))
      val cols = colDefs.map(d => unquoteIdent(d.split("\\s+")(0)))
      def affinity(d: String): Char = {
        val t = d.split("\\s+").drop(1).mkString(" ").toUpperCase
        if (t.contains("INT")) 'I'
        else if (t.contains("CHAR") || t.contains("CLOB") || t.contains("TEXT")) 'T'
        else if (t.isEmpty || t.contains("BLOB")) 'B'
        else if (t.contains("REAL") || t.contains("FLOA") || t.contains("DOUB")) 'R'
        else 'N'
      }
      val affinities = colDefs.map(affinity).toIndexedSeq
      // rowid alias: inline `x INTEGER PRIMARY KEY` OR a single-column
      // table-level `[CONSTRAINT n] PRIMARY KEY(x [ASC|DESC])` over a
      // column whose declared type is EXACTLY "INTEGER" — both store
      // the value as NULL and mean the rowid, per the format spec.
      // Exactness matters in both directions: `x INT PRIMARY KEY` is
      // NOT an alias (its real values are stored — aliasing it would
      // corrupt them into rowids), and `PRIMARY KEY(x DESC)` at table
      // level IS one (missing it would emit the stored NULLs).
      def declaredExactlyInteger(colIdx: Int): Boolean = {
        val toks = colDefs(colIdx).split("\\s+")
        toks.length >= 2 && toks(1).equalsIgnoreCase("INTEGER")
      }
      val inlineIpk = colDefs.indexWhere(d => ipkRx.findFirstIn(stripQuoted(d)).isDefined)
      val pkConstraintRx = "(?is)PRIMARY\\s+KEY\\s*\\(([^)]*)\\)".r
      val ipk =
        if (inlineIpk >= 0) inlineIpk
        else constraintDefs.iterator
          .flatMap(pkConstraintRx.findFirstMatchIn(_))
          .map(_.group(1).split(',').toSeq
            .map(e => unquoteIdent(e.replaceAll("(?i)\\s+(ASC|DESC)\\s*$", ""))))
          .collectFirst { case Seq(single)
            if cols.indexOf(single) >= 0 && declaredExactlyInteger(cols.indexOf(single)) =>
            cols.indexOf(single)
          }.getOrElse(-1)
      (cols, affinities, ipk, m._3)
    }

    /** Top-level comma split, paren- AND quote-aware (a DEFAULT 'x,y'
      * literal must not produce a phantom column def that shifts the
      * affinity/IPK indices off the quote-aware column-name parse). */
    private def splitDefs(s: String): Seq[String] = {
      val out = mutable.ArrayBuffer.empty[String]
      val cur = new StringBuilder
      var depth = 0
      var quote: Char = 0
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (quote != 0) {
          cur += c
          if (c == quote) {
            if (i + 1 < s.length && s.charAt(i + 1) == quote) { cur += quote; i += 1 }
            else quote = 0
          }
        } else c match {
          case '\'' | '"' | '`' => quote = c; cur += c
          case '(' => depth += 1; cur += '('
          case ')' => depth -= 1; cur += ')'
          case ',' if depth == 0 => out += cur.toString; cur.clear()
          case other => cur += other
        }
        i += 1
      }
      out += cur.toString
      out.toSeq
    }
  }
}
