package graft.sources

import java.io.ByteArrayOutputStream

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.io.{InputFile, OutputFile, PositionOutputStream, SeekableInputStream}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

import graft.sources.ManifestLog.{AddFile, BloomRef, DvRef, FileStat, NullStat,
  StrStat}

/** COLUMNAR CHECKPOINTS (r19; the r18 verdict's task 2 — its own
  * log-scale probe measured the flat-JSON checkpoint at 76 MiB /
  * 6.6 s write / 4.5 s full-replay parse at 1M live files; Delta's
  * checkpoints are parquet for exactly this number): the checkpoint's
  * PER-FILE state — the live files' [[ManifestLog.AddFile]] records:
  * single- and named-column stats, string bounds, null counts, bloom
  * refs, deletion vectors — encodes as ONE
  * parquet sidecar beside a now-KB JSON checkpoint that keeps the
  * scalar fields (version, txns, schema, checks, at, dvsever) and a
  * `pq` marker. Readers that want only the scalars never touch the
  * sidecar; replay decodes it with a zero-copy in-memory parquet
  * reader, ROW GROUPS IN PARALLEL (the writer bounds row-group size
  * so a 1M-file checkpoint spans many), through raw column readers
  * that fold rows straight into file records — no example-Group
  * allocation per row.
  *
  * One flat row kind per entry class keeps the schema primitive-only
  * (dictionary- and snappy-friendly) and the decode a tight loop:
  * {{{
  *   kind:0 file(f)            kind:1 stat(f,a=min,b=max)
  *   kind:2 colstat(f,c,a,b,g=dbl)  kind:3 strstat(f,c,s=min,t=max)
  *   kind:4 nullstat(f,c,a=nulls,b=rows)
  *   kind:5 bloom(f,c,s=sidecar,a=m,b=k,g=str)
  *   kind:6 dv(f,s=sidecar,a=nDeleted)
  * }}}
  * Rows are written file-major in replay order, so the decoded live
  * set preserves the replay's ordering exactly; equality with the
  * manifest fold is pinned by LogStoreCrashSpec on both stores. The
  * bytes travel through [[LogStore.publishBytes]] — POSIX writes them
  * raw, the CAS mock Base64s them — so the checkpoint protocol
  * (sidecar first, JSON publish as the atomic commit point, lost
  * races no-ops) is store-agnostic.
  *
  * FORMAT FLOOR: sidecars written at the floor carry a ninth column
  * `h`, a legacy-untyped-bloom mark. Such a sidecar decodes while no
  * row sets it; a set mark is refused
  * ([[ManifestLog.BelowFormatFloor]]) — the untyped bloom it marks
  * is below the floor. */
object CheckpointCodec {

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
    Types.optional(BOOLEAN).named("g"))

  // ---- in-memory parquet IO (driver-side, zero temp files) ----

  /** One JVM-wide Hadoop configuration, loaded once. Parquet's default
    * read options build a fresh `Configuration` per reader, which
    * reloads Hadoop's default resources: 8-12 ms per reader, against
    * ~0.01 ms for options built from an already-loaded one (warm
    * medians, 4-core host). */
  private[graft] lazy val loadedConf: Configuration = {
    val c = new Configuration()
    c.size() // forces the default resources to load now, once
    c
  }

  /** Fresh read options for ONE parquet reader, built from
    * [[loadedConf]]. Each reader needs its own: the options carry a
    * codec factory, which must not be shared across the parallel
    * row-group decodes. */
  private[graft] def readOptions(): ParquetReadOptions =
    HadoopReadOptions.builder(loadedConf).build()

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

  /** The sidecar bytes for `files`, written file-major in the given
    * order, columns sorted within each entry class. */
  def encode(files: Iterable[AddFile]): Array[Byte] = {
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
    def sorted[A](m: Map[String, A]) = m.toSeq.sortBy(_._1)
    files.foreach { a =>
      val f = a.path
      row(0, f)(_ => ())
      a.stat.foreach(s => row(1, f) { r => r.setA(s.min); r.setB(s.max) })
      sorted(a.colStats).foreach { case (c, s) => row(2, f) { r =>
        r.c = c; r.setA(s.min); r.setB(s.max); r.g = s.dbl } }
      sorted(a.strColStats).foreach { case (c, s) => row(3, f) { r =>
        r.c = c; r.s = s.min; r.t = s.max } }
      sorted(a.nullStats).foreach { case (c, s) => row(4, f) { r =>
        r.c = c; r.setA(s.nulls); r.setB(s.rows) } }
      sorted(a.blooms).foreach { case (c, b) => row(5, f) { r =>
        r.c = c; r.s = b.sidecar
        r.setA(b.m.toLong); r.setB(b.k.toLong); r.g = b.str } }
      a.dv.foreach(d => row(6, f) { r =>
        r.s = d.sidecar; r.setA(d.nDeleted) })
    }
    w.close()
    buf.toByteArray
  }

  // ---- decode ----

  /** One flat row, filled in place by the encode loop; the presence
    * flags drive optional-field suppression. */
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
    def setA(v: Long): Unit = { a = v; hasA = true }
    def setB(v: Long): Unit = { b = v; hasB = true }
    def clear(): Unit = {
      c = null; s = null; t = null; g = false
      hasA = false; hasB = false
    }
  }

  /** Column readers need a converter tree only structurally: the
    * decode pulls values straight off each reader. */
  private object NoConverter extends GroupConverter {
    private val leaf = new PrimitiveConverter {}
    override def getConverter(i: Int): Converter = leaf
    override def start(): Unit = ()
    override def end(): Unit = ()
  }

  /** One file's record while its rows are folded. */
  private final class FileBuf(val path: String) {
    var stat: Option[FileStat] = None
    var colStats = Map.empty[String, FileStat]
    var strColStats = Map.empty[String, StrStat]
    var nullStats = Map.empty[String, NullStat]
    var blooms = Map.empty[String, BloomRef]
    var dv: Option[DvRef] = None
    def result: AddFile =
      AddFile(path, stat, colStats, strColStats, nullStats, blooms, dv)
  }

  /** Decode one row group through RAW COLUMN READERS — no record
    * assembly, no per-row converter dispatch: each of the 9 flat
    * columns reads its (definition level, value) stream into arrays
    * in one tight loop, then a single row loop folds the arrays into
    * file records. Measured ~3× over the RecordReader form at a
    * 1M-file checkpoint; combined with row-group parallelism it is
    * what holds full replay under the probe's budget. `name` is the
    * sidecar's log name, for the floor refusal. Returns the group's
    * file records in row order; the first may continue the previous
    * group's last file. */
  private def decodeGroup(input: InputFile, footer: ParquetMetadata,
      gi: Int, name: String): Array[AddFile] = {
    val reader = ParquetFileReader.open(input, footer, readOptions(),
      input.newStream())
    try {
      val pages = reader.readRowGroup(gi)
      val n = pages.getRowCount.toInt
      // the file's own schema: a floor-era sidecar also has `h`, which
      // it may carry while no row sets it
      val fileSchema = footer.getFileMetaData.getSchema
      val store = new org.apache.parquet.column.impl.ColumnReadStoreImpl(
        pages, NoConverter, fileSchema, "")
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
      def bools(cd: org.apache.parquet.column.ColumnDescriptor)
          : Array[Boolean] = {
        val cr = store.getColumnReader(cd)
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
      val gs = bools(cols.get(7))
      if (fileSchema.containsField("h")) {
        val marked = bools(fileSchema.getColumnDescription(Array("h")))
          .indexOf(true)
        if (marked >= 0) throw new ManifestLog.BelowFormatFloor(name,
          s"the bloom ref of ${fs(marked)} column ${cs(marked)} carries " +
            "the legacy-untyped mark (h = true)")
      }
      // rows are file-major: a new path starts a new record
      val out = Array.newBuilder[AddFile]
      var cur: FileBuf = null
      var i = 0
      while (i < n) {
        if (cur == null || (fs(i) ne cur.path) && fs(i) != cur.path) {
          if (cur != null) out += cur.result
          cur = new FileBuf(fs(i))
        }
        kinds(i) match {
          case 0 => ()
          case 1 => cur.stat = Some(FileStat(as(i), bs(i)))
          case 2 => cur.colStats += cs(i) -> FileStat(as(i), bs(i), gs(i))
          case 3 => cur.strColStats += cs(i) -> StrStat(ss(i), ts(i))
          case 4 => cur.nullStats += cs(i) -> NullStat(as(i), bs(i))
          case 5 => cur.blooms += cs(i) ->
            BloomRef(cs(i), ss(i), as(i).toInt, bs(i).toInt, gs(i))
          case 6 => cur.dv = Some(DvRef(ss(i), as(i)))
          case k => throw new IllegalStateException(
            s"unknown checkpoint row kind $k")
        }
        i += 1
      }
      if (cur != null) out += cur.result
      out.result()
    } finally reader.close()
  }

  /** The file records of sidecar `name`, in the writer's file-major
    * order. Row groups decode in parallel; a file whose rows straddle
    * a group boundary (at most one per boundary) is merged back into
    * one record. The footer is read once and handed to every group's
    * reader. */
  def decode(bytes: Array[Byte], name: String): Seq[AddFile] = {
    val input = new BytesIn(bytes)
    val footer = ParquetFileReader.readFooter(input, readOptions(),
      input.newStream())
    val nGroups = footer.getBlocks.size()
    val groups = new Array[Array[AddFile]](nGroups)
    java.util.stream.IntStream.range(0, nGroups).parallel().forEach { gi =>
      groups(gi) = decodeGroup(input, footer, gi, name)
    }
    val out = new scala.collection.mutable.ArrayBuffer[AddFile](
      groups.iterator.map(_.length).sum)
    groups.foreach(_.foreach { a =>
      if (out.nonEmpty && out.last.path == a.path) {
        val p = out.last
        out(out.length - 1) = p.copy(stat = p.stat.orElse(a.stat),
          colStats = p.colStats ++ a.colStats,
          strColStats = p.strColStats ++ a.strColStats,
          nullStats = p.nullStats ++ a.nullStats,
          blooms = p.blooms ++ a.blooms, dv = p.dv.orElse(a.dv))
      } else out += a
    })
    out.toVector
  }
}
