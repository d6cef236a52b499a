package graft.table

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import graft.table.GraftTable.FileRef

/** DRIVER-LOCAL manifest slot I/O (round-18 optimization, guide §1/§2:
  * remove whole Spark jobs, not just shuffle bytes). A manifest slot is
  * a few KB-MB of metadata — reading it as `spark.read.parquet(...).
  * collect()` and writing it as `toDF.coalesce(1).write.parquet(...)`
  * paid a full Spark job (plan + schedule + commit protocol, ~0.1-0.3 s
  * of driver latency) PER SLOT TOUCH; a mutation lifecycle query folds
  * and publishes dozens of slots, so the job cadence — not the data —
  * was its gate time (x58 profile: ~105 Spark jobs, 8.6 s of driver
  * gaps for ~2 s of task work). Delta Lake reads its JSON log exactly
  * this way: on the driver, with Spark jobs reserved for data.
  *
  * The on-disk format is bidirectionally compatible with Spark's: the
  * writer produces the same columns, logical types and nullability
  * Spark's parquet writer emits for the `toDF` tuple schema
  * (standard-mode MAP key_value encoding, snappy), so slots written by
  * either writer read identically through either reader — pinned by
  * SlotIOSpec round-trips in both directions. The reader requires all
  * 13 slot columns; a slot without them is refused (see
  * [[GraftTable.requireReadable]]).
  */
private[table] object SlotIO {

  /** the slot schema Spark wrote for
    * (file, kind, lo, hi, txn, stats, sstats, rows, bytes, ts, nstats,
    * zgen, schema_json) — names, logical types and repetition match
    * ScalaReflection + ParquetWriteSupport output byte-for-byte. */
  private val SlotSchema: MessageType = {
    val string = LogicalTypeAnnotation.stringType()
    def mapOf(name: String, value: Type): GroupType =
      Types.optionalMap()
        .key(Types.required(PrimitiveTypeName.BINARY).as(string)
          .named("key"))
        .value(value)
        .named(name)
    Types.buildMessage()
      .addField(Types.optional(PrimitiveTypeName.BINARY).as(string)
        .named("file"))
      .addField(Types.optional(PrimitiveTypeName.BINARY).as(string)
        .named("kind"))
      .addField(Types.required(PrimitiveTypeName.INT64).named("lo"))
      .addField(Types.required(PrimitiveTypeName.INT64).named("hi"))
      .addField(Types.required(PrimitiveTypeName.INT64).named("txn"))
      .addField(mapOf("stats", Types.optionalGroup()
        .addField(Types.required(PrimitiveTypeName.INT64).named("_1"))
        .addField(Types.required(PrimitiveTypeName.INT64).named("_2"))
        .named("value")))
      .addField(mapOf("sstats", Types.optionalGroup()
        .addField(Types.optional(PrimitiveTypeName.BINARY).as(string)
          .named("_1"))
        .addField(Types.optional(PrimitiveTypeName.BINARY).as(string)
          .named("_2"))
        .named("value")))
      .addField(Types.required(PrimitiveTypeName.INT64).named("rows"))
      .addField(Types.required(PrimitiveTypeName.INT64).named("bytes"))
      .addField(Types.required(PrimitiveTypeName.INT64).named("ts"))
      .addField(mapOf("nstats",
        Types.required(PrimitiveTypeName.INT64).named("value")))
      .addField(Types.required(PrimitiveTypeName.INT64).named("zgen"))
      .addField(Types.optional(PrimitiveTypeName.BINARY).as(string)
        .named("schema_json"))
      .named("spark_schema")
  }

  /** write `refs` (with the commit-level txn id and in-commit stamp on
    * every row, exactly as the old tuple projection did) as ONE parquet
    * part file under the slot directory `dir` — no Spark job. */
  def write(dir: String, refs: Seq[FileRef], txn: Long, ts: Long,
            conf: Configuration): Unit = {
    val fs = new Path(dir).getFileSystem(conf)
    fs.mkdirs(new Path(dir))
    val part = new Path(dir,
      s"part-00000-${java.util.UUID.randomUUID()}.snappy.parquet")
    val w: ParquetWriter[Group] = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(part, conf))
      .withType(SlotSchema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val factory = new SimpleGroupFactory(SlotSchema)
    try refs.foreach { r =>
      val g = factory.newGroup()
      g.add("file", r.file)
      g.add("kind", r.kind)
      g.add("lo", r.lo)
      g.add("hi", r.hi)
      g.add("txn", txn)
      val stats = g.addGroup("stats")
      r.stats.foreach { case (k, (lo, hi)) =>
        val kv = stats.addGroup("key_value")
        kv.add("key", k)
        val v = kv.addGroup("value")
        v.add("_1", lo); v.add("_2", hi)
      }
      val sstats = g.addGroup("sstats")
      r.sstats.foreach { case (k, (lo, hi)) =>
        val kv = sstats.addGroup("key_value")
        kv.add("key", k)
        val v = kv.addGroup("value")
        v.add("_1", lo); v.add("_2", hi)
      }
      g.add("rows", r.rows)
      g.add("bytes", r.bytes)
      g.add("ts", ts)
      val nstats = g.addGroup("nstats")
      r.nstats.foreach { case (k, n) =>
        val kv = nstats.addGroup("key_value")
        kv.add("key", k)
        kv.add("value", n)
      }
      g.add("zgen", r.zgen)
      g.add("schema_json", r.schemaJson)
      w.write(g)
    } finally w.close()
  }

  /** the current slot format's column names — a part file missing any
    * of them was written by a pre-current engine and is refused */
  private val SlotColumns: Seq[String] =
    SlotSchema.getFields.asScala.map(_.getName).toSeq

  /** read a slot — either a directory of part files (rename arbiter)
    * or one bare parquet FILE at the slot name (conditional-put
    * arbiter), the same duality `spark.read.parquet` absorbed — with
    * no Spark job. Each part file opens ONCE: its footer schema is
    * checked against the current slot columns, then the same reader
    * decodes its row groups. Returns the decoded refs (unsorted: the
    * caller sorts) plus the commit-level (txn, ts) maxima. */
  def read(dir: String, conf: Configuration): (Seq[FileRef], Long, Long) = {
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    val parts =
      if (fs.getFileStatus(d).isFile) Seq(d)
      else fs.listStatus(d).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val refs = Vector.newBuilder[FileRef]
    var commitTxn = -1L
    // intern per-file schema strings: a snapshot has a handful of
    // DISTINCT schemas across up to 10⁵-10⁶ refs
    val interned = scala.collection.mutable.HashMap.empty[String, String]
    parts.foreach { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val missing = SlotColumns.filterNot(schema.containsField)
        if (missing.nonEmpty)
          GraftTable.refuse(d.getParent.getParent.toString,
            d.getName.stripPrefix("v"),
            s"its manifest slot has no ${missing.mkString(", ")} column(s)")
        val columns = new ColumnIOFactory().getColumnIO(schema)
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          val rows = columns.getRecordReader(pages,
            new GroupRecordConverter(schema))
          var i = 0L
          while (i < pages.getRowCount) {
            val g = rows.read()
            commitTxn = math.max(commitTxn, g.getLong("txn", 0))
            refs += decode(g, interned)
            i += 1
          }
          pages = reader.readNextRowGroup()
        }
      } finally reader.close()
    }
    val out = refs.result()
    val commitTs = out.foldLeft(-1L)((m, r) => math.max(m, r.ts))
    (out, commitTxn, commitTs)
  }

  /** one slot row → its ref. Map columns are optional groups of
    * `key_value` entries; a null map decodes as empty. */
  private def decode(g: Group,
                     interned: scala.collection.mutable.HashMap[String, String])
      : FileRef = {
    def entries(f: String): Seq[Group] =
      if (g.getFieldRepetitionCount(f) == 0) Nil
      else {
        val m = g.getGroup(f, 0)
        (0 until m.getFieldRepetitionCount(0)).map(m.getGroup(0, _))
      }
    def pair(kv: Group): Group = kv.getGroup("value", 0)
    val schemaJson = g.getString("schema_json", 0)
    FileRef(g.getString("file", 0), g.getString("kind", 0),
      g.getLong("lo", 0), g.getLong("hi", 0),
      stats = entries("stats").map(kv => kv.getString("key", 0) ->
        (pair(kv).getLong("_1", 0), pair(kv).getLong("_2", 0))).toMap,
      sstats = entries("sstats").map(kv => kv.getString("key", 0) ->
        (pair(kv).getString("_1", 0), pair(kv).getString("_2", 0))).toMap,
      rows = g.getLong("rows", 0),
      bytes = g.getLong("bytes", 0),
      ts = g.getLong("ts", 0),
      nstats = entries("nstats").map(kv =>
        kv.getString("key", 0) -> kv.getLong("value", 0)).toMap,
      zgen = g.getLong("zgen", 0),
      schemaJson = interned.getOrElseUpdate(schemaJson, schemaJson))
  }
}
