package graft.sources.cdc

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SinglePassWriter

/** The row-by-row Group fallback reader of the DSv2 feed, driven
  * DIRECTLY (the engine always prefers the columnar path when
  * supportColumnarReads says yes, so the fallback would otherwise be
  * proven only by inspection): primitive decode, LIST-of-primitive
  * decode (r19) including empty / NULL / null-element arrays, pad
  * slots, the version stamp slot, and the physical-width gate. */
class CdcRowReaderSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def landArrays(): String = {
    import spark.implicits._
    val root = graft.TempDirs.deleteOnExit(java.nio.file.Files
      .createTempDirectory("graft_cdc_rowreader")).toString
    val rows: Seq[(Long, Seq[java.lang.Float], String)] = Seq(
      (1L, Seq[java.lang.Float](1.5f, -2.25f), "a"),
      (2L, Seq.empty[java.lang.Float], "b"),
      (3L, null, "c"),
      (4L, Seq[java.lang.Float](0.5f, null), "d"))
    SinglePassWriter.writeFiles(
      rows.toDF("id", "emb", "tag").orderBy("id").coalesce(1),
      root, "data/v0")
    new java.io.File(root, "data/v0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
  }

  test("row reader decodes LIST columns into catalyst arrays: " +
      "values, empty, NULL array, null element — with the pad and " +
      "version slots in their contracted positions") {
    val abs = landArrays()
    val r = new CdcPartitionReader(abs, version = 7L, padCount = 2,
      expectWidth = 3)
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, List[java.lang.Float], String, Boolean, Long)]
    while (r.next()) {
      val row = r.get()
      assert(row.numFields == 3 + 2 + 1)
      val emb =
        if (row.isNullAt(1)) null
        else {
          val a = row.getArray(1)
          (0 until a.numElements()).map(j =>
            if (a.isNullAt(j)) null
            else java.lang.Float.valueOf(a.getFloat(j))).toList
        }
      // pad slots (3, 4) must be null; the stamp rides at slot 5
      got += ((row.getLong(0), emb, row.getUTF8String(2).toString,
        row.isNullAt(3) && row.isNullAt(4), row.getLong(5)))
    }
    r.close()
    assert(got.toList == List(
      (1L, List[java.lang.Float](1.5f, -2.25f), "a", true, 7L),
      (2L, Nil, "b", true, 7L),
      (3L, null, "c", true, 7L),
      (4L, List[java.lang.Float](0.5f, null), "d", true, 7L)),
      s"row-reader decode diverged: $got")
  }

  test("row reader decodes LIST-of-STRUCT columns (r20): values, " +
      "empty array, NULL array, null element and null FIELD — the " +
      "token-span shape through the fallback path") {
    import spark.implicits._
    val root = graft.TempDirs.deleteOnExit(java.nio.file.Files
      .createTempDirectory("graft_cdc_los")).toString
    val rows: Seq[(Long, Seq[(java.lang.Long, String)])] = Seq(
      (1L, Seq((java.lang.Long.valueOf(0L), "s0"),
        (java.lang.Long.valueOf(10L), null))),
      (2L, Seq.empty),
      (3L, null),
      (4L, Seq(null, (java.lang.Long.valueOf(5L), "s5"))))
    SinglePassWriter.writeFiles(
      rows.toDF("id", "spans").orderBy("id").coalesce(1),
      root, "data/v0")
    val abs = new java.io.File(root, "data/v0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    val r = new CdcPartitionReader(abs, version = 9L, padCount = 0,
      expectWidth = 2)
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long)]
    while (r.next()) {
      val row = r.get()
      val spans =
        if (row.isNullAt(1)) null
        else {
          val a = row.getArray(1)
          (0 until a.numElements()).map(j =>
            if (a.isNullAt(j)) "null"
            else {
              val s = a.getStruct(j, 2)
              (if (s.isNullAt(0)) "-" else s.getLong(0).toString) +
                "|" + (if (s.isNullAt(1)) "-"
                  else s.getUTF8String(1).toString)
            }).mkString(",")
        }
      got += ((row.getLong(0), spans, row.getLong(2)))
    }
    r.close()
    assert(got.toList == List((1L, "0|s0,10|-", 9L), (2L, "", 9L),
      (3L, null, 9L), (4L, "null,5|s5", 9L)),
      s"list-of-struct row decode diverged: $got")
  }

  test("non-annotated REPEATED shapes refuse loudly (r19 review " +
      "finding): a protobuf-style 2-level list would decode as a " +
      "'struct' keeping only the first repetition — silent data loss") {
    import org.apache.parquet.schema.{MessageType, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val dir = graft.TempDirs.deleteOnExit(java.nio.file.Files
      .createTempDirectory("graft_cdc_proto")).toString
    val msg: MessageType = new MessageType("m",
      Types.required(INT64).named("id"),
      Types.optionalGroup()
        .addField(Types.repeated(INT64).named("v"))
        .named("tags"))
    val abs = s"$dir/proto.parquet"
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(abs)).withType(msg).build()
    val g = new org.apache.parquet.example.data.simple.SimpleGroupFactory(
      msg).newGroup()
    g.add(0, 1L)
    val tg = g.addGroup(1); tg.add(0, 7L); tg.add(0, 8L)
    w.write(g); w.close()
    val e = intercept[IllegalArgumentException] {
      val r = new CdcPartitionReader(abs, 0L)
      try { while (r.next()) r.get() } finally r.close()
    }
    assert(e.getMessage.contains("STRUCT-of-primitive"),
      s"wrong refusal: ${e.getMessage}")
  }

  test("physical-width gate fires on BOTH readers (r19; r18 advice)") {
    val abs = landArrays() // 3 physical columns
    val e1 = intercept[IllegalArgumentException](
      new CdcPartitionReader(abs, 0L, 0, expectWidth = 4))
    assert(e1.getMessage.contains("misalign"))
    val e2 = intercept[IllegalArgumentException](
      new CdcColumnarReader(abs, 0L,
        new org.apache.spark.sql.types.StructType(), expectWidth = 4))
    assert(e2.getMessage.contains("misalign"))
    // matching width constructs fine
    new CdcPartitionReader(abs, 0L, 0, expectWidth = 3).close()
  }
  test("a micro-batch through the row reader shares the JVM's loaded " +
      "configuration: its entries stay unchanged and the rows equal " +
      "the columnar reader's") {
    import scala.jdk.CollectionConverters._
    val root = graft.TempDirs.deleteOnExit(java.nio.file.Files
      .createTempDirectory("graft_cdc_conf")).toString
    (0 until 2).foreach { b =>
      graft.sources.ManifestLog.appendChecked(spark,
        spark.range(b * 5L, b * 5L + 5L)
          .selectExpr("id", "concat('t', id) AS tag").coalesce(1),
        root, s"data/b$b")
    }
    val conf = graft.sources.CheckpointCodec.loadedConf
    def entries: Map[String, String] =
      conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    val before = entries
    val stream = new ManifestCdcStream(root, -1L, None)
    val start = stream.initialOffset()
    val parts = stream.planInputPartitions(start,
      stream.latestOffset(start, stream.getDefaultReadLimit)).toSeq
    val factory = stream.createReaderFactory()
    val rows = parts.flatMap { p =>
      val r = factory.createReader(p)
      try Iterator.continually(r).takeWhile(_.next()).map(_.get())
        .map(x => (x.getLong(0), x.getUTF8String(1).toString, x.getLong(2)))
        .toList
      finally r.close()
    }
    val columnar = parts.flatMap { p =>
      val r = factory.createColumnarReader(p)
      try Iterator.continually(r).takeWhile(_.next())
        .flatMap(_.get().rowIterator().asScala)
        .map(x => (x.getLong(0), x.getUTF8String(1).toString, x.getLong(2)))
        .toList
      finally r.close()
    }
    val versions = graft.sources.ManifestLog.versions(root).sorted
    assert(rows.sorted == (0L until 10L).map(id =>
      (id, s"t$id", versions((id / 5).toInt))))
    assert(columnar.sorted == rows.sorted)
    assert(entries == before, "the micro-batch changed the shared " +
      "configuration")
  }
}
