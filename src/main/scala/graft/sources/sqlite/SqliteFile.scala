package graft.sources.sqlite

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}

/** Minimal read-only decoder for the SQLite3 database file format
  * (public spec: https://www.sqlite.org/fileformat2.html), built so the
  * engine can ingest the reference's actual input — wview station
  * databases (aristoteles/aristoteles.py:229-230 opens `db_path` with
  * sqlite3; every query targets the `archive` table) — without a JDBC
  * driver dependency and, more importantly, with *distributed* reads:
  * the table b-tree's top-level subtrees become Spark input partitions,
  * so one big .sdb file is scanned by many executors in parallel, and
  * rowid-range predicates (wview's `dateTime` is the table's rowid
  * alias) prune whole subtrees before a page is read.
  *
  * Supported: table b-trees (page types 5/13), 64-bit varints, all
  * serial types, payload overflow chains, rowid-alias (INTEGER PRIMARY
  * KEY) columns, UTF-8 text. Out of scope for archived telemetry DBs,
  * by design: WAL mode (readers see the main file only; wview archives
  * are rollback-journal), indexes (we only ever range-scan the rowid,
  * which IS the table b-tree key), encodings 2/3 (UTF-16).
  *
  * I/O goes through the Hadoop FileSystem API so the same reader works
  * on file://, hdfs:// and s3a:// paths with positioned reads.
  */
final class SqliteFile(in: FSDataInputStream) {

  // ---- header -------------------------------------------------------
  private val header = new Array[Byte](100)
  in.readFully(0L, header)
  require(new String(header, 0, 16, "ISO-8859-1").startsWith("SQLite format 3"),
    "not a SQLite 3 database")

  private def u16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
  private def u32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
    ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  /** Page size: u16 at offset 16; the value 1 encodes 65536. */
  val pageSize: Int = u16(header, 16) match { case 1 => 65536; case n => n }
  private val reservedPerPage: Int = header(20) & 0xff
  val usableSize: Int = pageSize - reservedPerPage
  require((header(56 + 3) & 0xff) == 1 || u32(header, 56) == 1, "only UTF-8 text encoding supported")


  /** 4-byte page numbers are UNSIGNED; past Int.MaxValue (a multi-TB
    * single file at small page sizes) a bare .toInt goes negative and
    * reads garbage positions — refuse loudly instead (full Long page
    * addressing is the upgrade path; readPage already seeks in Long). */
  private def asPageNo(v: Long): Int = {
    if (v < 0 || v > Int.MaxValue) throw new IllegalStateException(
      s"page number $v exceeds this reader's 2^31 page addressing")
    v.toInt
  }

  def readPage(pageNo: Int): Array[Byte] = {
    val buf = new Array[Byte](pageSize)
    in.readFully((pageNo - 1).toLong * pageSize, buf)
    buf
  }

  // ---- varints & serial types --------------------------------------
  /** Decode a SQLite varint at `off`; returns (value, bytesConsumed).
    * Big-endian 7-bit groups; a 9th byte contributes all 8 bits. */
  def varint(b: Array[Byte], off: Int): (Long, Int) = {
    var v = 0L; var i = 0
    while (i < 8) {
      val x = b(off + i)
      if ((x & 0x80) == 0) return ((v << 7) | x, i + 1)
      v = (v << 7) | (x & 0x7f)
      i += 1
    }
    (((v << 8) | (b(off + 8) & 0xffL)), 9)
  }

  /** Byte width of a serial type's payload. */
  def serialSize(t: Long): Int = t match {
    case 0 | 8 | 9 => 0
    case 1 => 1; case 2 => 2; case 3 => 3; case 4 => 4; case 5 => 6
    case 6 | 7 => 8
    case n if n >= 12 => ((n - 12) / 2).toInt
    case _ => throw new IllegalStateException(s"reserved serial type $t")
  }

  /** Decode one value. Returns null | Long | Double | String | Array[Byte]. */
  def serialValue(t: Long, b: Array[Byte], off: Int): Any = t match {
    case 0 => null
    case 8 => 0L
    case 9 => 1L
    case 7 => java.lang.Double.longBitsToDouble(be(b, off, 8))
    case n if n >= 1 && n <= 6 =>
      val w = serialSize(n)
      val raw = be(b, off, w)
      // sign-extend two's complement of width w
      val shift = 64 - 8 * w
      (raw << shift) >> shift
    case n if n >= 13 && n % 2 == 1 => new String(b, off, ((n - 13) / 2).toInt, "UTF-8")
    case n if n >= 12 => java.util.Arrays.copyOfRange(b, off, off + ((n - 12) / 2).toInt)
  }

  private def be(b: Array[Byte], off: Int, w: Int): Long = {
    var v = 0L; var i = 0
    while (i < w) { v = (v << 8) | (b(off + i) & 0xffL); i += 1 }
    v
  }

  // ---- b-tree pages -------------------------------------------------
  /** (pageType, cellOffsets, rightMostChild) for a page. Page 1's
    * b-tree header starts at byte 100 (after the file header). */
  private def pageMeta(pageNo: Int, page: Array[Byte]): (Int, Array[Int], Long) = {
    val base = if (pageNo == 1) 100 else 0
    val typ = page(base) & 0xff
    val nCells = u16(page, base + 3)
    val headerLen = if (typ == 5 || typ == 2) 12 else 8
    val right = if (headerLen == 12) u32(page, base + 8) else -1L
    val cells = Array.tabulate(nCells)(i => u16(page, base + headerLen + 2 * i))
    (typ, cells, right)
  }

  /** Max local payload for a table-leaf cell; the spill formula from the
    * format spec ("Cell Payload Overflow Pages"). */
  private def localPayload(total: Long): Int = {
    val maxLocal = usableSize - 35
    if (total <= maxLocal) total.toInt
    else {
      val minLocal = (usableSize - 12) * 32 / 255 - 23
      val k = minLocal + ((total - minLocal) % (usableSize - 4)).toInt
      if (k <= maxLocal) k else minLocal
    }
  }

  /** Assemble a full payload, following the overflow chain if present. */
  private def payloadAt(page: Array[Byte], off: Int, total: Long): Array[Byte] = {
    val local = localPayload(total)
    if (local == total) java.util.Arrays.copyOfRange(page, off, off + local)
    else {
      val out = new Array[Byte](total.toInt)
      System.arraycopy(page, off, out, 0, local)
      var written = local
      var next = asPageNo(u32(page, off + local))
      while (next != 0 && written < total) {
        val op = readPage(next)
        val n = math.min(usableSize - 4, (total - written).toInt)
        System.arraycopy(op, 4, out, written, n)
        written += n
        next = asPageNo(u32(op, 0))
      }
      out
    }
  }

  /** The immediate children of a table-interior page as (childPage,
    * maxRowidInclusive) in key order; the rightmost child is unbounded
    * (Long.MaxValue). Empty for a leaf root. Used by the DSv2 planner
    * to build input partitions and prune on pushed rowid bounds. */
  def interiorChildren(pageNo: Int): Seq[(Int, Long)] = {
    val page = readPage(pageNo)
    val (typ, cells, right) = pageMeta(pageNo, page)
    if (typ != 5) Seq.empty
    else cells.map { off =>
      val child = asPageNo(u32(page, off))
      val (key, _) = varint(page, off + 4)
      (child, key)
    }.toSeq :+ ((asPageNo(right), Long.MaxValue))
  }

  /** Stream (rowid, payload) for every row of the table b-tree rooted at
    * `pageNo` with lo <= rowid <= hi. Interior descent prunes children
    * whose key range misses [lo, hi] — the pushed-down dateTime range
    * never touches the leaves it excludes. */
  def scanTable(pageNo: Int, lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Iterator[(Long, Array[Byte])] = {
    val page = readPage(pageNo)
    val (typ, cells, right) = pageMeta(pageNo, page)
    typ match {
      case 13 => // table leaf
        cells.iterator.flatMap { off =>
          val (total, n1) = varint(page, off)
          val (rowid, n2) = varint(page, off + n1)
          if (rowid >= lo && rowid <= hi)
            Iterator.single((rowid, payloadAt(page, off + n1 + n2, total)))
          else Iterator.empty
        }
      case 5 => // table interior: child_i holds rowids in (key_{i-1}, key_i]
        var prevKey = Long.MinValue
        val kids = Seq.newBuilder[Int]
        cells.foreach { off =>
          val child = asPageNo(u32(page, off))
          val (key, _) = varint(page, off + 4)
          if (key >= lo && prevKey < hi) kids += child
          prevKey = key
        }
        if (prevKey < hi) kids += asPageNo(right)
        kids.result().iterator.flatMap(scanTable(_, lo, hi))
      case t => throw new IllegalStateException(s"unexpected page type $t in table b-tree")
    }
  }

  /** Decode a record payload into column values. `wanted(i)` = the output
    * slot for source column i, or -1 to skip (column pruning: unneeded
    * values are width-skipped, never materialized). `rowid` substitutes
    * for a rowid-alias column, whose record slot is always NULL. */
  def decodeRecord(payload: Array[Byte], rowid: Long, wanted: Array[Int],
                   rowidAlias: Int, out: Array[Any]): Unit = {
    val (headerLen, n0) = varint(payload, 0)
    var hoff = n0
    var doff = headerLen.toInt
    var colIdx = 0
    while (hoff < headerLen && colIdx < wanted.length) {
      val (serial, n) = varint(payload, hoff)
      hoff += n
      val slot = wanted(colIdx)
      if (slot >= 0)
        out(slot) = if (colIdx == rowidAlias) rowid else serialValue(serial, payload, doff)
      doff += serialSize(serial)
      colIdx += 1
    }
    // Trailing columns absent from an old row version read as NULL; a
    // rowid-alias slot is still the rowid.
    while (colIdx < wanted.length) {
      val slot = wanted(colIdx)
      if (slot >= 0) out(slot) = if (colIdx == rowidAlias) rowid else null
      colIdx += 1
    }
  }

  /** Min rowid in the subtree: leftmost descent, O(depth) page reads —
    * the b-tree form of `SELECT dateTime FROM archive ORDER BY dateTime
    * LIMIT 1` (aristoteles.py:240). Bounds-aware so a pushed range
    * still answers correctly. */
  def minRowid(pageNo: Int, lo: Long, hi: Long): Option[Long] =
    scanTable(pageNo, lo, hi).buffered.headOption.map(_._1)

  /** Max rowid in the subtree: rightmost descent, O(depth) page reads. */
  def maxRowid(pageNo: Int, lo: Long, hi: Long): Option[Long] = {
    val page = readPage(pageNo)
    val (typ, cells, right) = pageMeta(pageNo, page)
    typ match {
      case 13 =>
        // leaf: last in-range cell (cells are key-ordered)
        var best: Option[Long] = None
        cells.foreach { off =>
          val (_, n1) = varint(page, off)
          val (rowid, _) = varint(page, off + n1)
          if (rowid >= lo && rowid <= hi) best = Some(rowid)
        }
        best
      case 5 =>
        // children right-to-left: first child intersecting [lo, hi]
        // from the right holds the max
        var prevKeys = Long.MinValue +: cells.map { off => varint(page, off + 4)._1 }
        val children = cells.map(off => asPageNo(u32(page, off))) :+ asPageNo(right)
        val maxKeys = cells.map(off => varint(page, off + 4)._1) :+ Long.MaxValue
        children.indices.reverse.foreach { i =>
          if (maxKeys(i) >= lo && prevKeys(i) < hi) {
            val r = maxRowid(children(i), lo, hi)
            if (r.isDefined) return r
          }
        }
        None
      case _ => None
    }
  }

  /** Row count without record decode: walk the tree reading only the
    * cell COUNT from each leaf header whose subtree the parent's key
    * bounds prove fully inside [lo, hi] (the same `inside` propagation
    * as [[kthRowid]]); only EDGE leaves decode per-cell keys — a
    * bounded range over a big table costs O(leaf headers), not
    * O(rows) varint decodes. */
  def countRows(pageNo: Int, lo: Long, hi: Long): Long = {
    def walk(pg: Int, inside: Boolean): Long = {
      val page = readPage(pg)
      val (typ, cells, right) = pageMeta(pg, page)
      typ match {
        case 13 =>
          if (inside) cells.length.toLong
          else cells.count { off =>
            val (_, n1) = varint(page, off)
            val (rowid, _) = varint(page, off + n1)
            rowid >= lo && rowid <= hi
          }.toLong
        case 5 =>
          var prevKey = Long.MinValue
          var total = 0L
          cells.foreach { off =>
            val child = asPageNo(u32(page, off))
            val (key, _) = varint(page, off + 4)
            if (key >= lo && prevKey < hi) {
              val childInside = inside ||
                ((lo == Long.MinValue || prevKey >= lo - 1) &&
                 (hi == Long.MaxValue || key <= hi))
              total += walk(child, childInside)
            }
            prevKey = key
          }
          if (prevKey < hi) total += walk(asPageNo(right), inside)
          total
        case _ => 0L
      }
    }
    walk(pageNo, inside = lo == Long.MinValue && hi == Long.MaxValue)
  }

  /** The admission-control question in ONE walk: Right(rowid of the
    * k-th in-range row) when the range holds at least k rows, else
    * Left(total in-range count). Replaces the kthRowid(k+1)-then-
    * countRows / kthRowid(k) double walk the streaming budget path
    * used to pay per trigger; same inside-propagation as both. */
  def countOrKth(pageNo: Int, lo: Long, hi: Long, k: Long): Either[Long, Long] = {
    if (k <= 0) return Left(0L)
    var seen = 0L
    def walk(pg: Int, inside: Boolean): Option[Long] = {
      val page = readPage(pg)
      val (typ, cells, right) = pageMeta(pg, page)
      typ match {
        case 13 =>
          if (inside && seen + cells.length < k) { seen += cells.length; None }
          else if (inside) {
            val off = cells((k - seen).toInt - 1)
            val (_, n1) = varint(page, off)
            Some(varint(page, off + n1)._1)
          } else {
            cells.foreach { off =>
              val (_, n1) = varint(page, off)
              val (rowid, _) = varint(page, off + n1)
              if (rowid >= lo && rowid <= hi) {
                seen += 1
                if (seen == k) return Some(rowid)
              }
            }
            None
          }
        case 5 =>
          var prevKey = Long.MinValue
          cells.foreach { off =>
            val child = asPageNo(u32(page, off))
            val (key, _) = varint(page, off + 4)
            if (key >= lo && prevKey < hi) {
              val childInside = inside ||
                ((lo == Long.MinValue || prevKey >= lo - 1) &&
                 (hi == Long.MaxValue || key <= hi))
              val r = walk(child, childInside)
              if (r.isDefined) return r
            }
            prevKey = key
          }
          if (prevKey < hi) walk(asPageNo(right), inside) else None
        case _ => None
      }
    }
    walk(pageNo, inside = lo == Long.MinValue && hi == Long.MaxValue)
      .toRight(seen)
  }

  /** Rowid of the k-th (1-based) in-range row — the b-tree's
    * rank-select. One left-to-right walk that stops at the k-th row:
    * subtrees known (from the parent's key bounds) to sit fully inside
    * [lo, hi] are skipped whole via leaf-header counts; only edge
    * leaves and the terminal leaf decode cell keys. None when the
    * range holds fewer than k rows. */
  def kthRowid(pageNo: Int, lo: Long, hi: Long, k: Long): Option[Long] = {
    if (k <= 0) return None
    var remaining = k
    def walk(pg: Int, inside: Boolean): Option[Long] = {
      val page = readPage(pg)
      val (typ, cells, right) = pageMeta(pg, page)
      typ match {
        case 13 =>
          if (inside && cells.length < remaining) {
            remaining -= cells.length
            None
          } else if (inside) {
            // all in range and ordered: the answer is this leaf's
            // (remaining)-th cell key
            val off = cells(remaining.toInt - 1)
            val (_, n1) = varint(page, off)
            Some(varint(page, off + n1)._1)
          } else {
            cells.foreach { off =>
              val (_, n1) = varint(page, off)
              val (rowid, _) = varint(page, off + n1)
              if (rowid >= lo && rowid <= hi) {
                remaining -= 1
                if (remaining == 0) return Some(rowid)
              }
            }
            None
          }
        case 5 =>
          var prevKey = Long.MinValue
          cells.foreach { off =>
            val child = asPageNo(u32(page, off))
            val (key, _) = varint(page, off + 4)
            if (key >= lo && prevKey < hi) {
              val childInside = inside ||
                ((lo == Long.MinValue || prevKey >= lo - 1) &&
                 (hi == Long.MaxValue || key <= hi))
              val r = walk(child, childInside)
              if (r.isDefined) return r
            }
            prevKey = key
          }
          if (prevKey < hi) walk(asPageNo(right), inside) else None
        case _ => None
      }
    }
    walk(pageNo, inside = lo == Long.MinValue && hi == Long.MaxValue)
  }

  // ---- catalog ------------------------------------------------------
  case class MasterRow(typ: String, name: String, tblName: String, rootPage: Int, sql: String)

  /** sqlite_master (root = page 1): (type, name, tbl_name, rootpage, sql). */
  def master(): Seq[MasterRow] = {
    val out = Seq.newBuilder[MasterRow]
    scanTable(1).foreach { case (rowid, payload) =>
      val vals = new Array[Any](5)
      decodeRecord(payload, rowid, Array(0, 1, 2, 3, 4), -1, vals)
      out += MasterRow(
        String.valueOf(vals(0)), String.valueOf(vals(1)), String.valueOf(vals(2)),
        vals(3) match { case l: java.lang.Long => l.toInt; case _ => 0 },
        vals(4) match { case s: String => s; case _ => "" })
    }
    out.result()
  }

  def tableRoot(table: String): Int =
    master().find(m => m.typ == "table" && m.name.equalsIgnoreCase(table))
      .map(_.rootPage)
      .getOrElse(throw new NoSuchElementException(s"table '$table' not found in sqlite_master"))

  def tableSql(table: String): String =
    master().find(m => m.typ == "table" && m.name.equalsIgnoreCase(table)).map(_.sql)
      .getOrElse(throw new NoSuchElementException(s"table '$table' not found"))

  def close(): Unit = in.close()
}

object SqliteFile {
  def open(path: String, conf: Configuration): SqliteFile = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    new SqliteFile(fs.open(p))
  }

  /** Columns of a CREATE TABLE statement as (name, declaredType), plus
    * the index of the rowid-alias column (-1 if none). Per the SQLite
    * spec a column aliases the rowid when it is declared type INTEGER
    * and is the primary key — either in the column definition
    * (`dateTime INTEGER NOT NULL UNIQUE PRIMARY KEY`, the wview case)
    * or as a single-column table constraint `PRIMARY KEY(col)` — with
    * the documented exception that `PRIMARY KEY DESC` does NOT alias.
    * An aliased column's record slots store NULL and the b-tree key
    * carries the value, so getting this wrong silently reads NULLs (or
    * rowids where real values live); WITHOUT ROWID tables use an
    * index-b-tree layout this reader does not speak, so they are
    * rejected rather than misread. */
  def parseCreateTable(sql: String): (Seq[(String, String)], Int) = {
    val open = sql.indexOf('(')
    val close = sql.lastIndexOf(')')
    require(open >= 0 && close > open, s"cannot parse CREATE TABLE: $sql")
    require(!sql.substring(close + 1).toUpperCase.contains("WITHOUT ROWID"),
      "WITHOUT ROWID tables are not supported (index-b-tree record layout)")
    val body = sql.substring(open + 1, close)
    // split on top-level commas (parens appear in CHECK/DEFAULT/type(n))
    val parts = Seq.newBuilder[String]
    var depth = 0; var start = 0
    var inQuote: Char = 0
    body.zipWithIndex.foreach { case (c, i) =>
      c match {
        case q @ ('\'' | '"' | '`') if inQuote == 0 => inQuote = q
        case q if inQuote == q => inQuote = 0
        case '(' if inQuote == 0 => depth += 1
        case ')' if inQuote == 0 => depth -= 1
        case ',' if depth == 0 && inQuote == 0 => parts += body.substring(start, i); start = i + 1
        case _ =>
      }
    }
    parts += body.substring(start)
    val tableConstraint = "(?i)^(PRIMARY|UNIQUE|CHECK|FOREIGN|CONSTRAINT)\\b".r
    val allParts = parts.result().map(_.trim).filter(_.nonEmpty)
    def unquote(s: String): String =
      s.stripPrefix("\"").stripSuffix("\"").stripPrefix("`").stripSuffix("`")
        .stripPrefix("[").stripSuffix("]")
    // constraint keywords end the declared TYPE: SQLite affinity
    // scans the WHOLE type name ("NATIVE CHARACTER(70)" is TEXT via
    // CHAR — keeping only the first token would misread it as REAL and
    // null every value on read), while trailing constraints must not
    // leak into the affinity scan ("CONSTRAINT" contains "INT")
    val constraintKw = Set("NOT", "PRIMARY", "UNIQUE", "CHECK", "DEFAULT",
      "COLLATE", "REFERENCES", "GENERATED", "AS", "CONSTRAINT")
    val cols = allParts
      .filterNot(p => tableConstraint.findFirstIn(p).isDefined)
      .map { p =>
        val toks = p.split("\\s+", 2)
        val rest = if (toks.length > 1) toks(1) else ""
        val typeText = rest.split("\\s+").takeWhile(t =>
            !constraintKw.contains(t.toUpperCase.takeWhile(_.isLetter)))
          .mkString(" ").toUpperCase
        (unquote(toks(0)), typeText, rest.toUpperCase)
      }
    // column-level: type exactly INTEGER + PRIMARY KEY (ANY whitespace
    // between the keywords — generated DDL uses tabs/newlines; a
    // missed alias silently reads the whole column as NULL) not
    // immediately followed by DESC
    val pkRe = "(?s)PRIMARY\\s+KEY".r
    val colLevel = cols.indexWhere { case (_, t, rest) =>
      t == "INTEGER" && pkRe.findFirstMatchIn(rest).exists(m =>
        !rest.substring(m.end).trim.startsWith("DESC"))
    }
    // table-level: PRIMARY KEY(col ...) over a single INTEGER column.
    // Unlike the column-definition form, the spec's DESC exception does
    // NOT apply here: PRIMARY KEY(x DESC) — and COLLATE variants —
    // still alias the rowid, so only the column NAME matters.
    val pkCols = "(?is)^(?:CONSTRAINT\\s+\\S+\\s+)?PRIMARY\\s+KEY\\s*\\(([^)]*)\\)".r
    val tableLevel = allParts.flatMap(p => pkCols.findFirstMatchIn(p).map(_.group(1)))
      .headOption.map(_.split(",").map(_.trim)).filter(_.length == 1)
      .flatMap(_.head.split("\\s+").headOption.map(unquote))
      .map(n => cols.indexWhere(c => c._1.equalsIgnoreCase(n) && c._2 == "INTEGER"))
      .getOrElse(-1)
    val rowidAlias = if (colLevel >= 0) colLevel else tableLevel
    (cols.map(c => (c._1, c._2)), rowidAlias)
  }
}
