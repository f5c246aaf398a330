package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Minimal OLE2 / Compound File Binary reader (MS-CFB) — just enough
  * to pull a named stream out of a legacy Office container: header,
  * DIFAT → FAT, directory, regular-sector chains, and the mini-FAT /
  * mini-stream path for streams under the 4096-byte cutoff.
  */
private[engine] object Ole2 {

  private val Magic = Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1)
    .map(_.toByte)
  private val EndOfChain = 0xFFFFFFFEL
  private val FreeSect = 0xFFFFFFFFL

  final case class Entry(name: String, objType: Int, startSect: Long,
                         size: Long)

  /** Read stream `streamName` (first match) from the container. */
  def stream(path: String, streamNames: Seq[String]): Array[Byte] = {
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    require(raw.length >= 512 && Magic.indices.forall(i => raw(i) == Magic(i)),
      s"$path is not an OLE2 compound file")
    val bb = java.nio.ByteBuffer.wrap(raw)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def u16(o: Int): Int = bb.getShort(o) & 0xFFFF
    def u32(o: Int): Long = bb.getInt(o) & 0xFFFFFFFFL
    val sectSize = 1 << u16(30)
    val miniSectSize = 1 << u16(32)
    val numFat = u32(44).toInt
    val dirStart = u32(48)
    val miniCutoff = u32(56)
    val miniFatStart = u32(60)
    val difatStart = u32(68)

    def sectorOffset(sid: Long): Int = ((sid + 1) * sectSize).toInt
    def sector(sid: Long): Array[Byte] = {
      val off = sectorOffset(sid)
      java.util.Arrays.copyOfRange(raw, off, math.min(off + sectSize, raw.length))
    }

    // Cyclic-chain guard: every sector walk (DIFAT, FAT, mini-FAT) is
    // bounded by the visited set — a corrupt or malicious file whose
    // links form a loop must fail as a parse error, not hang the task
    // or exhaust memory (the reference's xlrd path rejects such files).
    def walk(start: Long, next: Long => Long, what: String): Seq[Long] = {
      val seen = scala.collection.mutable.HashSet.empty[Long]
      val out = Seq.newBuilder[Long]
      var s = start
      while (s != EndOfChain && s != FreeSect && s >= 0) {
        if (!seen.add(s))
          throw new IllegalArgumentException(
            s"$path: cyclic $what chain revisits sector $s")
        out += s
        s = next(s)
      }
      out.result()
    }

    // DIFAT: 109 header entries, then chained DIFAT sectors
    val perDifatSect = sectSize / 4 - 1
    val headerDifat = (0 until 109).map(i => u32(76 + 4 * i))
    val chainedDifat =
      walk(difatStart, sid => u32(sectorOffset(sid) + perDifatSect * 4), "DIFAT")
        .flatMap(sid => (0 until perDifatSect).map(i =>
          u32(sectorOffset(sid) + 4 * i)))
    val fatSects = (headerDifat ++ chainedDifat)
      .filter(s => s != FreeSect && s != EndOfChain).take(numFat)
    val fat: IndexedSeq[Long] = fatSects.flatMap(sid =>
      (0 until sectSize / 4).map(i => u32(sectorOffset(sid) + 4 * i)))
      .toIndexedSeq

    def chain(start: Long): Seq[Long] =
      walk(start, s => fat(s.toInt), "FAT")

    def readChain(start: Long, size: Long): Array[Byte] = {
      val out = chain(start).flatMap(sector).toArray
      java.util.Arrays.copyOfRange(out, 0, math.min(size, out.length).toInt)
    }

    // directory: 128-byte entries over the directory chain
    val dirBytes = chain(dirStart).flatMap(sector).toArray
    val entries = (0 until dirBytes.length / 128).map { i =>
      val off = i * 128
      val dbb = java.nio.ByteBuffer.wrap(dirBytes, off, 128)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val nameLen = dbb.getShort(off + 64) & 0xFFFF
      val name = if (nameLen >= 2)
        new String(dirBytes, off, nameLen - 2, "UTF-16LE") else ""
      Entry(name, dirBytes(off + 66) & 0xFF,
        dbb.getInt(off + 116) & 0xFFFFFFFFL,
        dbb.getInt(off + 120) & 0xFFFFFFFFL)
    }
    val root = entries.find(_.objType == 5).getOrElse(
      throw new IllegalArgumentException(s"$path: no root storage entry"))
    val target = streamNames.iterator
      .flatMap(n => entries.find(e => e.objType == 2 && e.name == n))
      .nextOption()
      .getOrElse(throw new IllegalArgumentException(
        s"$path: no ${streamNames.mkString("/")} stream; found " +
          entries.filter(_.objType == 2).map(_.name).mkString(", ")))

    if (target.size >= miniCutoff) readChain(target.startSect, target.size)
    else {
      // mini-stream: sectors of `miniSectSize` inside the root stream,
      // chained through the mini-FAT
      val miniStream = readChain(root.startSect, root.size)
      val miniFat: IndexedSeq[Long] = chain(miniFatStart).flatMap(sid =>
        (0 until sectSize / 4).map(i => u32(sectorOffset(sid) + 4 * i)))
        .toIndexedSeq
      val out = walk(target.startSect, s => miniFat(s.toInt), "mini-FAT")
        .iterator.flatMap { sid =>
          val off = (sid * miniSectSize).toInt
          java.util.Arrays.copyOfRange(miniStream, off,
            math.min(off + miniSectSize, miniStream.length))
        }.toArray
      java.util.Arrays.copyOfRange(out, 0, target.size.toInt)
    }
  }
}

/** S3 (byte-level): genuine legacy `.xls` (BIFF8) ingestion with NO
  * external codec — an .xls is an OLE2 compound file whose `Workbook`
  * stream is a sequence of BIFF records. [[Ole2]] extracts the stream;
  * this parses the record surface a data reader needs: the globals
  * substream (BOUNDSHEET sheet catalog, SST shared strings including
  * CONTINUE spills, XF cell formats + FORMAT custom codes for date
  * detection) and each worksheet substream's cell records (LABELSST,
  * NUMBER, RK, MULRK, LABEL, BOOLERR, RSTRING; BLANK/MULBLANK skipped
  * as NULLs). Replaces the documented CSV staging stand-in — the
  * reference reads real .xls via xlrd
  * (/root/reference/src/ingestion/holidays_data.py:26-33).
  *
  * Semantics match [[XlsxSource]] via [[ExcelCells.sheetsToDf]]:
  * sheets in workbook order tagged `source_sheet`, row 1 headers,
  * trim, NULL for missing, schema cast by name — and date-styled
  * serials decode to ISO via the shared 1900-system conversion.
  */
final case class XlsSource(path: String, schema: StructType) {

  // record ids
  private val RBof = 0x0809
  private val REof = 0x000A
  private val RBoundSheet = 0x0085
  private val RSst = 0x00FC
  private val RContinue = 0x003C
  private val RLabelSst = 0x00FD
  private val RLabel = 0x0204
  private val RRString = 0x00D6
  private val RFormula = 0x0006
  private val RStringRec = 0x0207 // cached result of a string FORMULA
  private val RNumber = 0x0203
  private val RRk = 0x027E
  private val RMulRk = 0x00BD
  private val RBoolErr = 0x0205
  private val RXf = 0x00E0
  private val RFormat = 0x041E
  private val RDateMode = 0x0022

  private final case class Rec(id: Int, data: Array[Byte], end: Int)

  private def u16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
  private def u32(b: Array[Byte], o: Int): Long =
    (u16(b, o) & 0xFFFFL) | ((u16(b, o + 2) & 0xFFFFL) << 16)

  private def records(buf: Array[Byte], start: Int): Iterator[Rec] =
    new Iterator[Rec] {
      private var pos = start
      def hasNext: Boolean =
        pos + 4 <= buf.length && u16(buf, pos) != 0
      def next(): Rec = {
        val id = u16(buf, pos)
        val len = u16(buf, pos + 2)
        val r = Rec(id,
          java.util.Arrays.copyOfRange(buf, pos + 4, pos + 4 + len),
          pos + 4 + len)
        pos = r.end
        r
      }
    }

  /** BIFF8 XLUnicodeString at `off` in `b`: (text, bytesConsumed).
    * `shortLen`: 1-byte length (BOUNDSHEET names) vs 2-byte.
    */
  private def readStr(b: Array[Byte], off: Int,
                      shortLen: Boolean): (String, Int) = {
    var p = off
    val cch = if (shortLen) b(p) & 0xFF else u16(b, p)
    p += (if (shortLen) 1 else 2)
    val flags = b(p) & 0xFF; p += 1
    val rich = (flags & 0x08) != 0
    val ext = (flags & 0x04) != 0
    val cRun = if (rich) { val n = u16(b, p); p += 2; n } else 0
    val cbExt = if (ext) { val n = u32(b, p); p += 4; n } else 0L
    val wide = (flags & 0x01) != 0
    val text =
      if (wide) { val t = new String(b, p, cch * 2, "UTF-16LE"); p += cch * 2; t }
      else {
        val t = new String(b.slice(p, p + cch).map(c => (c & 0xFF).toChar))
        p += cch; t
      }
    p += cRun * 4 + cbExt.toInt
    (text, p - off)
  }

  /** SST parse with CONTINUE awareness: strings may spill across
    * CONTINUE records, where a fresh grbit byte precedes the remaining
    * characters (compression can change mid-string).
    */
  private def parseSst(first: Rec,
                       rest: scala.collection.BufferedIterator[Rec]): IndexedSeq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer(first.data)
    while (rest.hasNext && rest.head.id == RContinue)
      parts += rest.next().data
    val nUnique = u32(parts.head, 4).toInt
    val out = new scala.collection.mutable.ArrayBuffer[String](nUnique)
    var part = 0
    var p = 8 // past cstTotal + cstUnique
    def ensure(n: Int): Unit =
      // field never splits mid-value except char data (handled below);
      // a field starting exactly at a part boundary rolls forward
      if (p >= parts(part).length) { part += 1; p = 0 }
    while (out.size < nUnique && part < parts.length) {
      ensure(2)
      val b = parts(part)
      val cch = u16(b, p); p += 2
      ensure(1)
      var flags = parts(part)(p) & 0xFF; p += 1
      val rich = (flags & 0x08) != 0
      val ext = (flags & 0x04) != 0
      val cRun = if (rich) { ensure(2); val n = u16(parts(part), p); p += 2; n } else 0
      val cbExt = if (ext) { ensure(4); val n = u32(parts(part), p); p += 4; n } else 0L
      val sb = new java.lang.StringBuilder(cch)
      var remaining = cch
      while (remaining > 0) {
        if (p >= parts(part).length) {
          // spill into the next CONTINUE: fresh grbit for the tail
          part += 1; p = 0
          flags = parts(part)(p) & 0xFF; p += 1
        }
        val cur = parts(part)
        val wide = (flags & 0x01) != 0
        val avail =
          if (wide) math.min(remaining, (cur.length - p) / 2)
          else math.min(remaining, cur.length - p)
        if (wide) {
          sb.append(new String(cur, p, avail * 2, "UTF-16LE")); p += avail * 2
        } else {
          var i = 0
          while (i < avail) { sb.append((cur(p + i) & 0xFF).toChar); i += 1 }
          p += avail
        }
        remaining -= avail
      }
      // skip formatting runs / extended data (may themselves spill)
      var skip = cRun * 4 + cbExt
      while (skip > 0) {
        if (p >= parts(part).length) { part += 1; p = 0 }
        val step = math.min(skip, (parts(part).length - p).toLong)
        p += step.toInt; skip -= step
      }
      out += sb.toString
    }
    out.toIndexedSeq
  }

  def load(spark: SparkSession): DataFrame = {
    val wb = Ole2.stream(path, Seq("Workbook", "Book"))
    require(wb.length >= 4 && u16(wb, 0) == RBof,
      s"$path: Workbook stream does not start with BOF")

    // ---- globals substream ----
    var sheetCatalog = Vector.empty[(String, Int)] // name -> substream offset
    var sst: IndexedSeq[String] = IndexedSeq.empty
    var xfFmtIds = Vector.empty[Int]
    var formats = Map.empty[Int, String]
    var date1904 = false // DATEMODE record: 1 = Mac 1904 date system
    val it = records(wb, 0).buffered
    var inGlobals = true
    while (inGlobals && it.hasNext) {
      val r = it.next()
      r.id match {
        case RBoundSheet =>
          val pos = u32(r.data, 0).toInt
          val (name, _) = readStr(r.data, 6, shortLen = true)
          sheetCatalog :+= (name -> pos)
        case RSst => sst = parseSst(r, it)
        case RXf => xfFmtIds :+= u16(r.data, 2)
        case RFormat =>
          val fmtId = u16(r.data, 0)
          formats += fmtId -> readStr(r.data, 2, shortLen = false)._1
        case RDateMode => date1904 = u16(r.data, 0) == 1
        case REof => inGlobals = false
        case _ => ()
      }
    }
    require(sheetCatalog.nonEmpty, s"$path: no BOUNDSHEET records")

    val styleOf: Int => (Boolean, Boolean) = xf =>
      xfFmtIds.lift(xf).map(id => ExcelCells.dateStyle(id, formats.get(id)))
        .getOrElse((false, false))

    def numText(v: Double, xf: Int): String = styleOf(xf) match {
      case (true, withTime) => ExcelCells.serialToIso(v, withTime, date1904)
      case _ => ExcelCells.numericText(v)
    }

    def rkValue(rk: Long): Double = {
      val base =
        if ((rk & 0x02) != 0) (rk.toInt >> 2).toDouble // 30-bit signed int
        else java.lang.Double.longBitsToDouble((rk & 0xFFFFFFFCL) << 32)
      if ((rk & 0x01) != 0) base / 100 else base
    }

    // ---- worksheet substreams ----
    val sheets = sheetCatalog.map { case (name, off) =>
      val cells = scala.collection.mutable.Map.empty[(Int, Int), String]
      val sit = records(wb, off)
      require(sit.hasNext && { val b = sit.next(); b.id == RBof },
        s"$path: sheet $name does not start at a BOF record")
      var open = true
      // a string FORMULA's cached value arrives in the NEXT STRING
      // record (possibly after SHRFMLA/ARRAY helpers) — remember whose
      var pendingStr: Option[(Int, Int)] = None
      while (open && sit.hasNext) {
        val r = sit.next()
        val d = r.data
        r.id match {
          case RFormula =>
            // cached result in bytes 6-13: an IEEE double, unless the
            // last two bytes are 0xFFFF — then byte 6 tags a string
            // (0, value in the following STRING record), boolean (1),
            // error (2, -> NULL) or empty string (3)
            val rc = (u16(d, 0), u16(d, 2))
            if ((d(12) & 0xFF) == 0xFF && (d(13) & 0xFF) == 0xFF) d(6) match {
              case 0 => pendingStr = Some(rc)
              case 1 => cells(rc) = if (d(8) == 1) "true" else "false"
              case 3 => cells(rc) = ""
              case _ => () // error result -> missing cell -> NULL
            } else {
              val v = java.nio.ByteBuffer.wrap(d, 6, 8)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN).getDouble
              cells(rc) = numText(v, u16(d, 4))
            }
          case RStringRec =>
            pendingStr.foreach(rc => cells(rc) = readStr(d, 0, shortLen = false)._1)
            pendingStr = None
          case RLabelSst =>
            sst.lift(u32(d, 6).toInt).foreach(v =>
              cells((u16(d, 0), u16(d, 2))) = v)
          case RLabel | RRString =>
            cells((u16(d, 0), u16(d, 2))) = readStr(d, 6, shortLen = false)._1
          case RNumber =>
            val v = java.nio.ByteBuffer.wrap(d, 6, 8)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN).getDouble
            cells((u16(d, 0), u16(d, 2))) = numText(v, u16(d, 4))
          case RRk =>
            cells((u16(d, 0), u16(d, 2))) = numText(rkValue(u32(d, 6)), u16(d, 4))
          case RMulRk =>
            val row = u16(d, 0); val colFirst = u16(d, 2)
            val n = (d.length - 6) / 6
            (0 until n).foreach { i =>
              val xf = u16(d, 4 + i * 6)
              cells((row, colFirst + i)) = numText(rkValue(u32(d, 6 + i * 6)), xf)
            }
          case RBoolErr =>
            if (d(7) == 0) // bool, not error
              cells((u16(d, 0), u16(d, 2))) = if (d(6) == 1) "true" else "false"
          case RBof => // nested substream (chart): skip to its EOF
            var depth = 1
            while (depth > 0 && sit.hasNext) {
              val n = sit.next()
              if (n.id == RBof) depth += 1
              else if (n.id == REof) depth -= 1
            }
          case REof => open = false
          case _ => ()
        }
      }
      val byRow = cells.groupBy(_._1._1).toSeq.sortBy(_._1)
        .map { case (_, m) => m.map { case ((_, c), v) => c -> v }.toMap }
      name -> byRow
    }
    ExcelCells.sheetsToDf(spark, schema, sheets)
  }
}
