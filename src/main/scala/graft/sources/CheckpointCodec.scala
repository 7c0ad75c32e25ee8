package graft.sources

import java.io.ByteArrayOutputStream

import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.io.{InputFile, OutputFile, PositionOutputStream, SeekableInputStream}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

import graft.sources.ManifestLog.{BloomRef, DvRef, FileStat, NullStat, StrStat}

/** COLUMNAR CHECKPOINTS (r19; the r18 verdict's task 2 — its own
  * log-scale probe measured the flat-JSON checkpoint at 76 MiB /
  * 6.6 s write / 4.5 s full-replay parse at 1M live files; Delta's
  * checkpoints are parquet for exactly this number): the checkpoint's
  * PER-FILE state — live set, single- and named-column stats, string
  * bounds, null counts, bloom refs, deletion vectors — encodes as ONE
  * parquet sidecar beside a now-KB JSON checkpoint that keeps the
  * scalar fields (version, txns, schema, checks, at, dvsever) and a
  * `pq` marker. Readers that want only the scalars never touch the
  * sidecar; replay decodes it with a zero-copy in-memory parquet
  * reader, ROW GROUPS IN PARALLEL (the writer bounds row-group size
  * so a 1M-file checkpoint spans many), through a custom record
  * materializer that folds rows straight into the replay maps — no
  * example-Group allocation per row.
  *
  * One flat row kind per entry class keeps the schema primitive-only
  * (dictionary- and snappy-friendly) and the decode a tight loop:
  * {{{
  *   kind:0 file(f)            kind:1 stat(f,a=min,b=max)
  *   kind:2 colstat(f,c,a,b,g=dbl)  kind:3 strstat(f,c,s=min,t=max)
  *   kind:4 nullstat(f,c,a=nulls,b=rows)
  *   kind:5 bloom(f,c,s=sidecar,a=m,b=k,g=str,h=legacy)
  *   kind:6 dv(f,s=sidecar,a=nDeleted)
  * }}}
  * Rows are written file-major in replay order, so the decoded live
  * set preserves the JSON checkpoint's ordering exactly; equality of
  * the two replay paths is pinned by LogStoreCrashSpec on both
  * stores. The bytes travel through [[LogStore.publishBytes]] —
  * POSIX writes them raw, the CAS mock Base64s them — so the
  * checkpoint protocol (sidecar first, JSON publish as the atomic
  * commit point, lost races no-ops) is store-agnostic. */
object CheckpointCodec {

  final case class PerFileState(
      files: Seq[String],
      stats: Map[String, FileStat],
      colStats: Map[String, Map[String, FileStat]],
      strColStats: Map[String, Map[String, StrStat]],
      nullStats: Map[String, Map[String, NullStat]],
      blooms: Map[String, Map[String, BloomRef]],
      dvs: Map[String, DvRef])

  private val Schema: MessageType = new MessageType("graft_ckpt",
    Types.required(INT32).named("kind"),
    Types.required(BINARY).as(LogicalTypeAnnotation.stringType())
      .named("f"),
    Types.optional(BINARY).as(LogicalTypeAnnotation.stringType())
      .named("c"),
    Types.optional(INT64).named("a"),
    Types.optional(INT64).named("b"),
    Types.optional(BINARY).as(LogicalTypeAnnotation.stringType())
      .named("s"),
    Types.optional(BINARY).as(LogicalTypeAnnotation.stringType())
      .named("t"),
    Types.optional(BOOLEAN).named("g"),
    Types.optional(BOOLEAN).named("h"))

  // ---- in-memory parquet IO (driver-side, zero temp files) ----

  private final class BytesOut(buf: ByteArrayOutputStream)
      extends OutputFile {
    override def create(hint: Long): PositionOutputStream =
      new PositionOutputStream {
        private var pos = 0L
        override def getPos: Long = pos
        override def write(b: Int): Unit = { buf.write(b); pos += 1 }
        override def write(b: Array[Byte], off: Int,
            len: Int): Unit = { buf.write(b, off, len); pos += len }
      }
    override def createOrOverwrite(hint: Long): PositionOutputStream =
      create(hint)
    override def supportsBlockSize(): Boolean = false
    override def defaultBlockSize(): Long = 0L
  }

  private final class BytesIn(bytes: Array[Byte]) extends InputFile {
    override def getLength: Long = bytes.length.toLong
    override def newStream(): SeekableInputStream =
      new SeekableInputStream {
        private var pos = 0
        override def getPos: Long = pos.toLong
        override def seek(p: Long): Unit = pos = p.toInt
        override def read(): Int =
          if (pos >= bytes.length) -1
          else { val b = bytes(pos) & 0xff; pos += 1; b }
        override def read(b: Array[Byte], off: Int, len: Int): Int = {
          if (pos >= bytes.length) return -1
          val n = math.min(len, bytes.length - pos)
          System.arraycopy(bytes, pos, b, off, n); pos += n; n
        }
        override def read(buf: java.nio.ByteBuffer): Int = {
          if (pos >= bytes.length) return -1
          val n = math.min(buf.remaining(), bytes.length - pos)
          buf.put(bytes, pos, n); pos += n; n
        }
        override def readFully(b: Array[Byte]): Unit =
          readFully(b, 0, b.length)
        override def readFully(b: Array[Byte], off: Int,
            len: Int): Unit = {
          require(pos + len <= bytes.length, "EOF in checkpoint sidecar")
          System.arraycopy(bytes, pos, b, off, len); pos += len
        }
        override def readFully(buf: java.nio.ByteBuffer): Unit = {
          val n = buf.remaining()
          require(pos + n <= bytes.length, "EOF in checkpoint sidecar")
          buf.put(bytes, pos, n); pos += n
        }
      }
  }

  // ---- encode ----

  /** Row groups are bounded by ROW COUNT, not bytes: the entries are
    * tiny and dictionary-coded, so a byte bound would leave a 1M-file
    * checkpoint in ONE group (measured) and the parallel decode with
    * nothing to parallelize. 256k rows/group → a 1M-file checkpoint
    * spans ~8 groups; small tables stay one group at no overhead. */
  private val RowGroupRows = 256 * 1024

  /** Direct RecordConsumer write support — one flat row per call, no
    * example-Group allocation (measured ~2× on the 1M-file encode). */
  private final class CkptWriteSupport
      extends org.apache.parquet.hadoop.api.WriteSupport[RowBuf] {
    private var rc: org.apache.parquet.io.api.RecordConsumer = _
    override def init(conf: org.apache.hadoop.conf.Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport.WriteContext =
      new org.apache.parquet.hadoop.api.WriteSupport.WriteContext(
        Schema, java.util.Collections.emptyMap[String, String]())
    override def prepareForWrite(
        consumer: org.apache.parquet.io.api.RecordConsumer): Unit =
      rc = consumer
    override def write(r: RowBuf): Unit = {
      rc.startMessage()
      rc.startField("kind", 0); rc.addInteger(r.kind)
      rc.endField("kind", 0)
      rc.startField("f", 1); rc.addBinary(Binary.fromString(r.f))
      rc.endField("f", 1)
      if (r.c != null) {
        rc.startField("c", 2); rc.addBinary(Binary.fromString(r.c))
        rc.endField("c", 2)
      }
      if (r.hasA) {
        rc.startField("a", 3); rc.addLong(r.a); rc.endField("a", 3)
      }
      if (r.hasB) {
        rc.startField("b", 4); rc.addLong(r.b); rc.endField("b", 4)
      }
      if (r.s != null) {
        rc.startField("s", 5); rc.addBinary(Binary.fromString(r.s))
        rc.endField("s", 5)
      }
      if (r.t != null) {
        rc.startField("t", 6); rc.addBinary(Binary.fromString(r.t))
        rc.endField("t", 6)
      }
      if (r.g) {
        rc.startField("g", 7); rc.addBoolean(true); rc.endField("g", 7)
      }
      if (r.h) {
        rc.startField("h", 8); rc.addBoolean(true); rc.endField("h", 8)
      }
      rc.endMessage()
    }
  }

  private final class CkptWriterBuilder(out: OutputFile)
      extends org.apache.parquet.hadoop.ParquetWriter
        .Builder[RowBuf, CkptWriterBuilder](out) {
    override protected def self(): CkptWriterBuilder = this
    override protected def getWriteSupport(
        conf: org.apache.hadoop.conf.Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[RowBuf] =
      new CkptWriteSupport
  }

  def encode(st: PerFileState): Array[Byte] = {
    val buf = new ByteArrayOutputStream(1 << 20)
    val w = new CkptWriterBuilder(new BytesOut(buf))
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupRowCountLimit(RowGroupRows)
      // nobody ever filters the sidecar — page statistics are dead
      // weight; and the near-unique path/sidecar columns only churn
      // the dictionary hash before falling back to plain anyway
      .withStatisticsEnabled(false)
      .withDictionaryEncoding("f", false)
      .withDictionaryEncoding("s", false)
      .build()
    val r = new RowBuf
    def row(kind: Int, f: String)(fill: RowBuf => Unit): Unit = {
      r.clear(); r.kind = kind; r.f = f
      fill(r)
      w.write(r)
    }
    st.files.foreach { f =>
      row(0, f)(_ => ())
      st.stats.get(f).foreach(s => row(1, f) { r =>
        r.setA(s.min); r.setB(s.max) })
      st.colStats.get(f).toSeq.flatMap(_.toSeq.sortBy(_._1)).foreach {
        case (c, s) => row(2, f) { r =>
          r.c = c; r.setA(s.min); r.setB(s.max); r.g = s.dbl }
      }
      st.strColStats.get(f).toSeq.flatMap(_.toSeq.sortBy(_._1)).foreach {
        case (c, s) => row(3, f) { r =>
          r.c = c; r.s = s.min; r.t = s.max }
      }
      st.nullStats.get(f).toSeq.flatMap(_.toSeq.sortBy(_._1)).foreach {
        case (c, s) => row(4, f) { r =>
          r.c = c; r.setA(s.nulls); r.setB(s.rows) }
      }
      st.blooms.get(f).toSeq.flatMap(_.toSeq.sortBy(_._1)).foreach {
        case (c, b) => row(5, f) { r =>
          r.c = c; r.s = b.sidecar
          r.setA(b.m.toLong); r.setB(b.k.toLong); r.g = b.str
          // the legacy-untyped quarantine mark survives the fold
          r.h = b.legacy && !b.str }
      }
      st.dvs.get(f).foreach(d => row(6, f) { r =>
        r.s = d.sidecar; r.setA(d.nDeleted) })
    }
    w.close()
    buf.toByteArray
  }

  // ---- decode ----

  /** One flat row, shared by both directions: written in place by the
    * decode materializer, filled in place by the encode loop. The
    * presence flags matter only on the WRITE side (optional-field
    * suppression); decode leaves stale a/b on kinds that don't carry
    * them, which no kind reads. */
  private final class RowBuf {
    var kind = 0
    var f: String = _
    var c: String = _
    var a = 0L
    var b = 0L
    var hasA = false
    var hasB = false
    var s: String = _
    var t: String = _
    var g = false
    var h = false
    def setA(v: Long): Unit = { a = v; hasA = true }
    def setB(v: Long): Unit = { b = v; hasB = true }
    def clear(): Unit = {
      c = null; s = null; t = null; g = false; h = false
      hasA = false; hasB = false
    }
  }

  private final class RowConverter(buf: RowBuf) extends GroupConverter {
    private val converters: Array[Converter] = Array(
      new PrimitiveConverter {
        override def addInt(v: Int): Unit = buf.kind = v },
      new PrimitiveConverter {
        override def addBinary(v: Binary): Unit =
          buf.f = v.toStringUsingUTF8 },
      new PrimitiveConverter {
        override def addBinary(v: Binary): Unit =
          buf.c = v.toStringUsingUTF8 },
      new PrimitiveConverter {
        override def addLong(v: Long): Unit = buf.a = v },
      new PrimitiveConverter {
        override def addLong(v: Long): Unit = buf.b = v },
      new PrimitiveConverter {
        override def addBinary(v: Binary): Unit =
          buf.s = v.toStringUsingUTF8 },
      new PrimitiveConverter {
        override def addBinary(v: Binary): Unit =
          buf.t = v.toStringUsingUTF8 },
      new PrimitiveConverter {
        override def addBoolean(v: Boolean): Unit = buf.g = v },
      new PrimitiveConverter {
        override def addBoolean(v: Boolean): Unit = buf.h = v })
    override def getConverter(i: Int): Converter = converters(i)
    override def start(): Unit = buf.clear()
    override def end(): Unit = ()
  }

  /** Per-row-group partial fold — merged in row-group order so the
    * live-set ordering matches the writer's file-major order. Exposed
    * to [[ManifestLog.snapshotIn]], which folds the partials straight
    * into its own mutable replay state (one pass) instead of paying
    * the [[decode]] convenience merge plus an immutable copy plus a
    * re-fold — three serial million-entry passes — per resolve. */
  private[sources] final class Partial {
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    val stats = scala.collection.mutable.HashMap.empty[String, FileStat]
    val colStats = scala.collection.mutable
      .HashMap.empty[String, Map[String, FileStat]]
    val strColStats = scala.collection.mutable
      .HashMap.empty[String, Map[String, StrStat]]
    val nullStats = scala.collection.mutable
      .HashMap.empty[String, Map[String, NullStat]]
    val blooms = scala.collection.mutable
      .HashMap.empty[String, Map[String, BloomRef]]
    val dvs = scala.collection.mutable.HashMap.empty[String, DvRef]
  }

  /** Decode one row group through RAW COLUMN READERS — no record
    * assembly, no per-row converter dispatch: each of the 9 flat
    * columns reads its (definition level, value) stream into arrays
    * in one tight loop, then a single row loop folds the arrays into
    * the partial maps. Measured ~3× over the RecordReader form at a
    * 1M-file checkpoint; combined with row-group parallelism it is
    * what holds full replay under the probe's budget.
    *
    * ADDITIVE SIDECAR EVOLUTION (r19 review finding): a column the
    * FILE's footer lacks decodes as its all-default array instead of
    * crashing the page-store lookup — the `h` (bloom-legacy) column
    * was appended after the first pq sidecars shipped, and a sidecar
    * format change must read old sidecars exactly as the manifest
    * format reads old manifests. New columns must always be appended
    * LAST and default-meaningful. */
  private def decodeGroup(input: InputFile, gi: Int): Partial = {
    val reader = ParquetFileReader.open(input)
    try {
      val pages = reader.readRowGroup(gi)
      val n = pages.getRowCount.toInt
      val fileCols =
        reader.getFooter.getFileMetaData.getSchema.getFieldCount
      // dummy converter tree: column readers only need it structurally
      val dummy = new RowConverter(new RowBuf)
      val store = new org.apache.parquet.column.impl.ColumnReadStoreImpl(
        pages, dummy, Schema, "")
      val cols = Schema.getColumns
      def longs(ci: Int): (Array[Long], Array[Boolean]) = {
        val cd = cols.get(ci); val cr = store.getColumnReader(cd)
        val maxDl = cd.getMaxDefinitionLevel
        val v = new Array[Long](n); val has = new Array[Boolean](n)
        var i = 0
        while (i < n) {
          if (cr.getCurrentDefinitionLevel == maxDl) {
            v(i) = cr.getLong; has(i) = true
          }
          cr.consume(); i += 1
        }
        (v, has)
      }
      def strs(ci: Int): Array[String] = {
        val cd = cols.get(ci); val cr = store.getColumnReader(cd)
        val maxDl = cd.getMaxDefinitionLevel
        val v = new Array[String](n)
        // run-length dedup: rows are file-major, so the path column
        // repeats on consecutive rows — reusing the SAME String
        // object halves the allocations AND lets the downstream map
        // puts reuse its cached hashCode
        var lastBin: Binary = null
        var lastStr: String = null
        var i = 0
        while (i < n) {
          if (cr.getCurrentDefinitionLevel == maxDl) {
            val bin = cr.getBinary
            if (lastBin == null || !bin.equals(lastBin)) {
              lastBin = bin.copy(); lastStr = bin.toStringUsingUTF8
            }
            v(i) = lastStr
          }
          cr.consume(); i += 1
        }
        v
      }
      val kinds = {
        val cr = store.getColumnReader(cols.get(0))
        val v = new Array[Int](n)
        var i = 0
        while (i < n) { v(i) = cr.getInteger; cr.consume(); i += 1 }
        v
      }
      val fs = strs(1)
      val cs = strs(2)
      val (as, _) = longs(3)
      val (bs, _) = longs(4)
      val ss = strs(5)
      val ts = strs(6)
      def bools(ci: Int): Array[Boolean] = {
        val cd = cols.get(ci); val cr = store.getColumnReader(cd)
        val maxDl = cd.getMaxDefinitionLevel
        val v = new Array[Boolean](n)
        var i = 0
        while (i < n) {
          if (cr.getCurrentDefinitionLevel == maxDl)
            v(i) = cr.getBoolean
          cr.consume(); i += 1
        }
        v
      }
      val gs = bools(7)
      val hs =
        if (fileCols > 8) bools(8)
        else new Array[Boolean](n) // pre-h sidecar: legacy = false
      val p = new Partial
      var i = 0
      while (i < n) {
        kinds(i) match {
          case 0 => p.files += fs(i)
          case 1 => p.stats(fs(i)) = FileStat(as(i), bs(i))
          case 2 => p.colStats(fs(i)) =
            p.colStats.getOrElse(fs(i), Map.empty) +
              (cs(i) -> FileStat(as(i), bs(i), gs(i)))
          case 3 => p.strColStats(fs(i)) =
            p.strColStats.getOrElse(fs(i), Map.empty) +
              (cs(i) -> StrStat(ss(i), ts(i)))
          case 4 => p.nullStats(fs(i)) =
            p.nullStats.getOrElse(fs(i), Map.empty) +
              (cs(i) -> NullStat(as(i), bs(i)))
          case 5 => p.blooms(fs(i)) =
            p.blooms.getOrElse(fs(i), Map.empty) +
              (cs(i) -> BloomRef(cs(i), ss(i), as(i).toInt,
                bs(i).toInt, gs(i), legacy = hs(i)))
          case 6 => p.dvs(fs(i)) = DvRef(ss(i), as(i))
          case k => throw new IllegalStateException(
            s"unknown checkpoint row kind $k")
        }
        i += 1
      }
      p
    } finally reader.close()
  }

  /** All row groups decoded in parallel, returned in row-group order
    * (= the writer's file-major order). A file's entries can straddle
    * a group boundary, so consumers folding partials must MERGE, not
    * overwrite, the per-file column maps (at most nGroups files are
    * affected; [[decode]] below and the snapshot fold both do). */
  private[sources] def decodeParts(bytes: Array[Byte]): Array[Partial] = {
    val input = new BytesIn(bytes)
    val nGroups = {
      val r = ParquetFileReader.open(input)
      try r.getFooter.getBlocks.size() finally r.close()
    }
    val partials = new Array[Partial](nGroups)
    java.util.stream.IntStream.range(0, nGroups).parallel().forEach { gi =>
      partials(gi) = decodeGroup(input, gi)
    }
    partials
  }

  def decode(bytes: Array[Byte]): PerFileState = {
    val partials = decodeParts(bytes)
    // merge in row-group order; a file's entries never split across
    // the writer's row-group boundary mid-map in a way that matters —
    // map merges are keyed, and the live set concatenates in order.
    // (A file's colstat rows CAN land in the next group; the keyed
    // merge below unions the per-column maps either way.)
    val files = Seq.newBuilder[String]
    val stats = Map.newBuilder[String, FileStat]
    val dvs = Map.newBuilder[String, DvRef]
    val colStats =
      scala.collection.mutable.HashMap.empty[String, Map[String, FileStat]]
    val strColStats =
      scala.collection.mutable.HashMap.empty[String, Map[String, StrStat]]
    val nullStats =
      scala.collection.mutable.HashMap.empty[String, Map[String, NullStat]]
    val blooms =
      scala.collection.mutable.HashMap.empty[String, Map[String, BloomRef]]
    partials.foreach { p =>
      files ++= p.files
      stats ++= p.stats
      dvs ++= p.dvs
      p.colStats.foreach { case (f, m) =>
        colStats(f) = colStats.getOrElse(f, Map.empty) ++ m }
      p.strColStats.foreach { case (f, m) =>
        strColStats(f) = strColStats.getOrElse(f, Map.empty) ++ m }
      p.nullStats.foreach { case (f, m) =>
        nullStats(f) = nullStats.getOrElse(f, Map.empty) ++ m }
      p.blooms.foreach { case (f, m) =>
        blooms(f) = blooms.getOrElse(f, Map.empty) ++ m }
    }
    PerFileState(files.result(), stats.result(), colStats.toMap,
      strColStats.toMap, nullStats.toMap, blooms.toMap, dvs.result())
  }
}
