package graft.store

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, PrimitiveType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.stringType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

/** Parquet manifest checkpoints — the columnar, predicate-readable
  * snapshot encoding (public Delta's checkpoint design: the log
  * compacts into a parquet file whose per-file stats are typed columns,
  * so planners read ONLY the columns a probe needs and push the probe's
  * range predicate into row-group/dictionary filtering instead of
  * parsing the whole state).
  *
  * Layout — one row per manifest line, Delta-checkpoint-sparse:
  *
  *   - a LIVE-FILE row populates `file`, folding that file's regular
  *     per-file lines into typed/raw columns: `size` (the `z:` line),
  *     `dv` (the `dv:` value), and per column group `s_<i>` (the raw
  *     stats value, byte-exact), `smin_<i>`/`smax_<i>` (typed pruning
  *     bounds derived from it), `n_<i>` (raw null-count value),
  *     `b_<i>` (raw bloom value);
  *   - every other metadata entry (schema, policies, constraints, txn
  *     markers, any per-file line that fails the regular shape) is a
  *     generic `mkey`/`mval` row, so reconstruction is byte-exact
  *     whatever the writer recorded.
  *
  * Column groups are keyed by (column, tag) — a mixed-tag column (a
  * type change mid-table) simply lands in two groups, and the footer's
  * key-value metadata maps index -> (url-encoded column, tag, kind) so
  * a reader never guesses. Typed bounds for numeric tags (`n`, `t`)
  * are CONSERVATIVE doubles (min rounded down, max up, one ULP), so a
  * pruned probe can widen by a ULP but never wrongly exclude a file;
  * string/date tags (`s`, `d`) store the DECODED text as binary, whose
  * unsigned-lexicographic parquet comparator matches the manifest's
  * own statLt byte order exactly.
  *
  * Everything here is driver-side parquet-java (no Spark job on the
  * commit path), same as the gzip encoder it sits beside; readers sniff
  * the PAR1 magic — never a file name — so text, gzip, and parquet
  * snapshots mix freely in one manifest chain. */
private[graft] object ParquetCkpt {

  /** Footer keys. `files` = live-file row count; `statscols` = the
    * table's `stats.cols` policy at checkpoint time (the cold pruned
    * probe needs it before any state exists); `cols` = the column-group
    * map; `format` = the manifest format stamp (the cold probe checks
    * it without scanning rows). */
  private val VersionKey = "graft.ckpt.v"
  private val FilesKey = "graft.ckpt.files"
  private val StatsColsKey = "graft.ckpt.statscols"
  private val ColsKey = "graft.ckpt.cols"
  private val TsKey = "graft.ckpt.ts"
  private val FormatKey = "graft.ckpt.format"

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** PAR1 magic sniff — the parquet twin of the gzip 0x1f8b check. */
  def isParquetFile(p: Path): Boolean = {
    if (!Files.exists(p) || Files.size(p) < 4) return false
    val in = Files.newInputStream(p)
    try {
      val b = new Array[Byte](4)
      val n = in.read(b)
      n == 4 && b(0) == 'P' && b(1) == 'A' && b(2) == 'R' && b(3) == '1'
    } finally in.close()
  }

  /** A (column, tag) group and how its typed bounds are stored:
    * kind "f" = double bounds (tags n/t), "b" = binary bounds (s/d). */
  private final case class ColGroup(col: String, tag: String, kind: String)

  private def kindOf(tag: String): String =
    if (tag == "n" || tag == "t") "f" else "b"

  /** bd rounded DOWN to the nearest representable double (never above). */
  private def floorDouble(bd: java.math.BigDecimal): Double = {
    val d = bd.doubleValue()
    if (d == Double.PositiveInfinity) Double.MaxValue
    else if (d == Double.NegativeInfinity) d
    else if (java.math.BigDecimal.valueOf(d).compareTo(bd) > 0)
      Math.nextDown(d)
    else d
  }

  /** bd rounded UP to the nearest representable double (never below). */
  private def ceilDouble(bd: java.math.BigDecimal): Double = {
    val d = bd.doubleValue()
    if (d == Double.NegativeInfinity) Double.MinValue
    else if (d == Double.PositiveInfinity) d
    else if (java.math.BigDecimal.valueOf(d).compareTo(bd) < 0)
      Math.nextUp(d)
    else d
  }

  /** The stats value decoded for typed comparison (mirrors
    * fileStatsOf: only the `s` tag is URL-encoded on the line). */
  private def decodedBound(tag: String, raw: String): String =
    if (tag == "s") dec(raw) else raw

  // ---------------------------------------------------------------
  // Write
  // ---------------------------------------------------------------

  /** Per-file foldable lines of one file, parsed off the meta map. */
  private final case class FileRow(
      file: String,
      size: Option[Long],
      dv: Option[String],
      stats: Map[ColGroup, String], // raw line value "tag min max"
      nulls: Map[String, String], // col -> raw value
      blooms: Map[String, String]) // col -> raw value

  /** Encode `(files, meta)` as a parquet checkpoint at `out` (a fresh
    * temp path — the caller links/moves it into place exactly like a
    * text snapshot). Returns the live-file count for callers that log. */
  def write(out: Path, files: Seq[String],
            meta: Map[String, String]): Unit = {
    val fileSet = files.toSet
    val rows = mutable.LinkedHashMap[String, FileRow]()
    files.foreach(f => rows(f) = FileRow(f, None, None, Map.empty,
      Map.empty, Map.empty))
    val generic = mutable.ArrayBuffer[(String, String)]()

    def fileOf(rest: String): String = rest.take(rest.indexOf(':'))

    meta.toSeq.sortBy(_._1).foreach { case (k, v) =>
      def asGeneric(): Unit = { generic += (k -> v); () }
      if (k.startsWith("s:")) {
        val rest = k.drop(2); val f = fileOf(rest)
        val c = rest.drop(f.length + 1)
        if (!fileSet.contains(f) || c.isEmpty) asGeneric()
        else v.split(" ", 3) match {
          case Array(tag, _, _) if tag.nonEmpty =>
            val g = ColGroup(c, tag, kindOf(tag))
            rows(f) = rows(f).copy(stats = rows(f).stats + (g -> v))
          case _ => asGeneric()
        }
      } else if (k.startsWith("n:")) {
        val rest = k.drop(2); val f = fileOf(rest)
        val c = rest.drop(f.length + 1)
        if (!fileSet.contains(f) || c.isEmpty) asGeneric()
        else rows(f) = rows(f).copy(nulls = rows(f).nulls + (c -> v))
      } else if (k.startsWith("b:")) {
        val rest = k.drop(2); val f = fileOf(rest)
        val c = rest.drop(f.length + 1)
        if (!fileSet.contains(f) || c.isEmpty) asGeneric()
        else rows(f) = rows(f).copy(blooms = rows(f).blooms + (c -> v))
      } else if (k.startsWith("z:")) {
        val f = k.drop(2)
        // Fold only when the text round-trips exactly.
        v.toLongOption.filter(_.toString == v) match {
          case Some(n) if fileSet.contains(f) =>
            rows(f) = rows(f).copy(size = Some(n))
          case _ => asGeneric()
        }
      } else if (k.startsWith("dv:")) {
        val f = k.drop(3)
        if (fileSet.contains(f)) rows(f) = rows(f).copy(dv = Some(v))
        else asGeneric()
      } else asGeneric()
    }

    // Column groups in deterministic order; nulls/bloom column sets
    // are independent of the stats groups.
    val statGroups = rows.valuesIterator.flatMap(_.stats.keysIterator)
      .toSeq.distinct.sortBy(g => (g.col, g.tag))
    val nullCols = rows.valuesIterator.flatMap(_.nulls.keysIterator)
      .toSeq.distinct.sorted
    val bloomCols = rows.valuesIterator.flatMap(_.blooms.keysIterator)
      .toSeq.distinct.sorted

    var b = Types.buildMessage()
      .addField(prim(BINARY, "file", string = true))
      .addField(prim(INT64, "size"))
      .addField(prim(BINARY, "dv", string = true))
      .addField(prim(BINARY, "mkey", string = true))
      .addField(prim(BINARY, "mval", string = true))
    statGroups.zipWithIndex.foreach { case (g, i) =>
      b = b.addField(prim(BINARY, s"s_$i", string = true))
      if (g.kind == "f")
        b = b.addField(prim(DOUBLE, s"smin_$i"))
          .addField(prim(DOUBLE, s"smax_$i"))
      else
        b = b.addField(prim(BINARY, s"smin_$i", string = true))
          .addField(prim(BINARY, s"smax_$i", string = true))
    }
    nullCols.zipWithIndex.foreach { case (_, j) =>
      b = b.addField(prim(BINARY, s"n_$j", string = true))
    }
    bloomCols.zipWithIndex.foreach { case (_, kI) =>
      b = b.addField(prim(BINARY, s"b_$kI", string = true))
    }
    val schema = b.named("graft_ckpt")

    val footer = Map(
      VersionKey -> "1",
      FilesKey -> files.size.toString,
      StatsColsKey -> meta.getOrElse("stats.cols", ""),
      // The in-commit timestamp doubles in the footer so history()
      // reads it without scanning rows (it is a generic row too).
      TsKey -> meta.getOrElse(MergeStore.TsKey, ""),
      FormatKey -> meta.getOrElse(MergeStore.FormatVersionKey, ""),
      ColsKey -> (
        statGroups.zipWithIndex.map { case (g, i) =>
          s"s,$i,${enc(g.col)},${g.tag},${g.kind}"
        } ++ nullCols.zipWithIndex.map { case (c, j) =>
          s"n,$j,${enc(c)}"
        } ++ bloomCols.zipWithIndex.map { case (c, kI) =>
          s"b,$kI,${enc(c)}"
        }).mkString(";"))

    val factory = new SimpleGroupFactory(schema)
    val writer: ParquetWriter[Group] = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(out.toString), new Configuration()))
      .withType(schema)
      .withExtraMetaData(footer.asJava)
      .withCompressionCodec(CompressionCodecName.GZIP)
      .withDictionaryEncoding(true)
      .build()
    try {
      // Field indexes and names resolved ONCE — a per-row indexOf or
      // `s"s_$i"` interpolation is O(groups) work × 10⁵–10⁶ rows.
      val fileI = schema.getFieldIndex("file")
      val sizeI = schema.getFieldIndex("size")
      val dvI = schema.getFieldIndex("dv")
      val mkeyI = schema.getFieldIndex("mkey")
      val mvalI = schema.getFieldIndex("mval")
      val statIdx = statGroups.zipWithIndex.toMap
      val statI = statGroups.indices.map(i =>
        schema.getFieldIndex(s"s_$i")).toArray
      val statMinI = statGroups.indices.map(i =>
        schema.getFieldIndex(s"smin_$i")).toArray
      val statMaxI = statGroups.indices.map(i =>
        schema.getFieldIndex(s"smax_$i")).toArray
      val nullIdx = nullCols.zipWithIndex.toMap
      val nullI = nullCols.indices.map(j =>
        schema.getFieldIndex(s"n_$j")).toArray
      val bloomIdx = bloomCols.zipWithIndex.toMap
      val bloomI = bloomCols.indices.map(kI =>
        schema.getFieldIndex(s"b_$kI")).toArray
      rows.valuesIterator.foreach { r =>
        val g = factory.newGroup()
        g.add(fileI, r.file)
        r.size.foreach(g.add(sizeI, _))
        r.dv.foreach(g.add(dvI, _))
        r.stats.foreach { case (cg, raw) =>
          val i = statIdx(cg)
          g.add(statI(i), raw)
          raw.split(" ", 3) match {
            case Array(tag, mn, mx) =>
              if (cg.kind == "f") {
                g.add(statMinI(i), floorDouble(new java.math.BigDecimal(mn)))
                g.add(statMaxI(i), ceilDouble(new java.math.BigDecimal(mx)))
              } else {
                g.add(statMinI(i), decodedBound(tag, mn))
                g.add(statMaxI(i), decodedBound(tag, mx))
              }
            case _ => ()
          }
        }
        r.nulls.foreach { case (c, v) => g.add(nullI(nullIdx(c)), v) }
        r.blooms.foreach { case (c, v) => g.add(bloomI(bloomIdx(c)), v) }
        writer.write(g)
      }
      generic.foreach { case (k, v) =>
        val g = factory.newGroup()
        g.add(mkeyI, k)
        g.add(mvalI, v)
        writer.write(g)
      }
    } finally writer.close()
  }

  private def prim(t: PrimitiveType.PrimitiveTypeName, name: String,
                   string: Boolean = false): PrimitiveType = {
    val p = Types.optional(t)
    (if (string) p.as(stringType()) else p).named(name)
  }

  // ---------------------------------------------------------------
  // Read
  // ---------------------------------------------------------------

  private def footerMeta(p: Path): Map[String, String] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toString), new Configuration()))
    try r.getFooter.getFileMetaData.getKeyValueMetaData.asScala.toMap
    finally r.close()
  }

  private final case class ColMap(stats: Seq[ColGroup],
                                  nulls: Seq[String],
                                  blooms: Seq[String])

  private def colMapOf(footer: Map[String, String]): ColMap = {
    val entries = footer.getOrElse(ColsKey, "").split(";")
      .filter(_.nonEmpty).toSeq
    ColMap(
      entries.filter(_.startsWith("s,")).map { e =>
        val Array(_, _, c, tag, kind) = e.split(",", 5)
        ColGroup(dec(c), tag, kind)
      },
      entries.filter(_.startsWith("n,")).map(e => dec(e.split(",", 3)(2))),
      entries.filter(_.startsWith("b,")).map(e => dec(e.split(",", 3)(2))))
  }

  private def has(g: Group, field: String): Boolean =
    g.getType.containsField(field) &&
      g.getFieldRepetitionCount(field) > 0

  private def str(g: Group, field: String): String =
    g.getString(field, 0)

  /** Full-fidelity decode: the exact (files, meta) the text snapshot
    * would have carried, byte for byte. */
  def readState(p: Path): (Vector[String], Map[String, String]) = {
    val cm = colMapOf(footerMeta(p))
    val files = Vector.newBuilder[String]
    val meta = Map.newBuilder[String, String]
    val reader = ParquetReader
      .builder(new GroupReadSupport(), new org.apache.hadoop.fs.Path(
        p.toString))
      .withConf(new Configuration())
      .build()
    try {
      var g = reader.read()
      if (g != null) {
        // Field INDEXES resolved once off the schema (identical for
        // every row of the file) — per-row name lookups and per-row
        // `s"s_$i"` string building were half the decode cost at
        // 10⁵–10⁶ rows.
        val t = g.getType
        val fileI = t.getFieldIndex("file")
        val sizeI = t.getFieldIndex("size")
        val dvI = t.getFieldIndex("dv")
        val mkeyI = t.getFieldIndex("mkey")
        val mvalI = t.getFieldIndex("mval")
        val statI = cm.stats.indices.map(i =>
          t.getFieldIndex(s"s_$i")).toArray
        val statSuffix = cm.stats.map(cg => s":${cg.col}").toArray
        val nullI = cm.nulls.indices.map(j =>
          t.getFieldIndex(s"n_$j")).toArray
        val nullSuffix = cm.nulls.map(c => s":$c").toArray
        val bloomI = cm.blooms.indices.map(kI =>
          t.getFieldIndex(s"b_$kI")).toArray
        val bloomSuffix = cm.blooms.map(c => s":$c").toArray
        while (g != null) {
          if (g.getFieldRepetitionCount(fileI) > 0) {
            val f = g.getString(fileI, 0)
            files += f
            if (g.getFieldRepetitionCount(sizeI) > 0)
              meta += (s"z:$f" -> g.getLong(sizeI, 0).toString)
            if (g.getFieldRepetitionCount(dvI) > 0)
              meta += (s"dv:$f" -> g.getString(dvI, 0))
            var i = 0
            while (i < statI.length) {
              if (g.getFieldRepetitionCount(statI(i)) > 0)
                meta += (s"s:$f${statSuffix(i)}" ->
                  g.getString(statI(i), 0))
              i += 1
            }
            var j = 0
            while (j < nullI.length) {
              if (g.getFieldRepetitionCount(nullI(j)) > 0)
                meta += (s"n:$f${nullSuffix(j)}" ->
                  g.getString(nullI(j), 0))
              j += 1
            }
            var kI = 0
            while (kI < bloomI.length) {
              if (g.getFieldRepetitionCount(bloomI(kI)) > 0)
                meta += (s"b:$f${bloomSuffix(kI)}" ->
                  g.getString(bloomI(kI), 0))
              kI += 1
            }
          } else if (g.getFieldRepetitionCount(mkeyI) > 0) {
            meta += (g.getString(mkeyI, 0) ->
              (if (g.getFieldRepetitionCount(mvalI) > 0)
                g.getString(mvalI, 0) else ""))
          }
          g = reader.read()
        }
      }
    } finally reader.close()
    (files.result(), meta.result())
  }

  /** The manifest format stamp recorded at checkpoint time, off the
    * footer — no row scan. */
  def formatOf(p: Path): Option[String] =
    footerMeta(p).get(FormatKey).filter(_.nonEmpty)

  /** The in-commit timestamp the snapshot's commit stamped, off the
    * footer — no row scan. */
  def commitTsOf(p: Path): Option[Long] =
    footerMeta(p).get(TsKey).flatMap(_.toLongOption)

  /** The `stats.cols` policy recorded at checkpoint time. */
  def statsColsOf(p: Path): Seq[String] =
    footerMeta(p).getOrElse(StatsColsKey, "")
      .split(",").toSeq.filter(_.nonEmpty)

  /** Column -> stats tags present in the checkpoint (normally one; a
    * type change mid-table leaves two groups = no pruning). */
  def colTags(p: Path): Map[String, Seq[String]] =
    colMapOf(footerMeta(p)).stats.groupBy(_.col)
      .map { case (c, gs) => c -> gs.map(_.tag) }

  /** Just the live-file names — the one-column read backing a probe
    * over a column that keeps no stats. */
  def allFiles(p: Path): Seq[String] = {
    val conf = new Configuration()
    conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      "message graft_ckpt { optional binary file (UTF8); }")
    val out = Seq.newBuilder[String]
    val reader = ParquetReader
      .builder(new GroupReadSupport(), new org.apache.hadoop.fs.Path(
        p.toString))
      .withConf(conf)
      .withFilter(FilterCompat.get(FilterApi.notEq(
        FilterApi.binaryColumn("file"), null.asInstanceOf[Binary])))
      .build()
    try {
      var g = reader.read()
      while (g != null) {
        if (has(g, "file")) out += str(g, "file")
        g = reader.read()
      }
    } finally reader.close()
    out.result()
  }

  /** The cold range probe: live files whose `[min,max]` on `col`
    * MIGHT overlap `[lo,hi]` (files without typed bounds stay
    * candidates), pushed into the parquet read as a real filter over
    * ONLY the (file, smin, smax) columns — row groups whose bounds
    * can't match never decompress. Bounds arrive raw (the manifest's
    * own rawBound spelling). Returns None when the checkpoint keeps
    * no single-tag group for `col` AND `col` has stats recorded (the
    * mixed-tag no-prune contract), Some(allFiles) when the column has
    * no stats at all. */
  def prunedFiles(p: Path, colName: String, tag: String,
                  lo: Option[String], hi: Option[String])
      : Option[Seq[String]] = {
    val cm = colMapOf(footerMeta(p))
    val groups = cm.stats.zipWithIndex.filter(_._1.col == colName)
    if (groups.size > 1) return None // mixed tags: caller won't prune
    if (groups.size == 1 && groups.head._1.tag != tag) return None
    val conf = new Configuration()
    val fileCol = FilterApi.binaryColumn("file")
    val isFileRow: FilterPredicate =
      FilterApi.notEq(fileCol, null.asInstanceOf[Binary])
    val (projection, filter) = groups.headOption match {
      case None => // no stats lines for col at all: every file matches
        ("message graft_ckpt { optional binary file (UTF8); }",
          isFileRow)
      case Some(_) if lo.isEmpty && hi.isEmpty =>
        // Unbounded probe: every file row matches — no typed filter.
        ("message graft_ckpt { optional binary file (UTF8); }",
          isFileRow)
      case Some((g, i)) =>
        val (minName, maxName) = (s"smin_$i", s"smax_$i")
        val overlapOrNull: FilterPredicate = if (g.kind == "f") {
          val mn = FilterApi.doubleColumn(minName)
          val mx = FilterApi.doubleColumn(maxName)
          val conservLo = lo.map(x =>
            floorDouble(new java.math.BigDecimal(x)))
          val conservHi = hi.map(x =>
            ceilDouble(new java.math.BigDecimal(x)))
          val overlap = (conservLo.map(l => FilterApi.gtEq(mx,
            java.lang.Double.valueOf(l)): FilterPredicate) ++
            conservHi.map(h => FilterApi.ltEq(mn,
              java.lang.Double.valueOf(h)): FilterPredicate))
            .reduce(FilterApi.and)
          FilterApi.or(
            FilterApi.eq(mn, null.asInstanceOf[java.lang.Double]),
            overlap)
        } else {
          val mn = FilterApi.binaryColumn(minName)
          val mx = FilterApi.binaryColumn(maxName)
          val overlap = (lo.map(l => FilterApi.gtEq(mx,
            Binary.fromString(l)): FilterPredicate) ++
            hi.map(h => FilterApi.ltEq(mn,
              Binary.fromString(h)): FilterPredicate))
            .reduce(FilterApi.and)
          FilterApi.or(FilterApi.eq(mn, null.asInstanceOf[Binary]),
            overlap)
        }
        val boundsType = if (g.kind == "f") "double" else "binary"
        val boundsAnn = if (g.kind == "f") "" else " (UTF8)"
        (s"message graft_ckpt { optional binary file (UTF8); " +
          s"optional $boundsType $minName$boundsAnn; " +
          s"optional $boundsType $maxName$boundsAnn; }",
          FilterApi.and(isFileRow, overlapOrNull))
    }
    conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      projection)
    val out = Seq.newBuilder[String]
    val reader = ParquetReader
      .builder(new GroupReadSupport(), new org.apache.hadoop.fs.Path(
        p.toString))
      .withConf(conf)
      .withFilter(FilterCompat.get(filter))
      .build()
    try {
      var g = reader.read()
      while (g != null) {
        if (has(g, "file")) out += str(g, "file")
        g = reader.read()
      }
    } finally reader.close()
    Some(out.result())
  }

  /** Cold size read: (file, size) columns only — `fileSizes` on a
    * maintenance pass reads two columns of the checkpoint instead of
    * reconstructing the table state. Missing size lines yield None. */
  def sizes(p: Path): Seq[(String, Option[Long])] = {
    val conf = new Configuration()
    conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      "message graft_ckpt { optional binary file (UTF8); " +
        "optional int64 size; }")
    val fileCol = FilterApi.binaryColumn("file")
    val out = Seq.newBuilder[(String, Option[Long])]
    val reader = ParquetReader
      .builder(new GroupReadSupport(), new org.apache.hadoop.fs.Path(
        p.toString))
      .withConf(conf)
      .withFilter(FilterCompat.get(
        FilterApi.notEq(fileCol, null.asInstanceOf[Binary])))
      .build()
    try {
      var g = reader.read()
      while (g != null) {
        if (has(g, "file"))
          out += (str(g, "file") ->
            (if (has(g, "size")) Some(g.getLong("size", 0)) else None))
        g = reader.read()
      }
    } finally reader.close()
    out.result()
  }
}
