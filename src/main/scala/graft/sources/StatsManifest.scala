package graft.sources

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims, Row, SparkSession}
import org.apache.spark.sql.types._

/** A data-skipping manifest, read on the driver: `_graft_stats` and each
  * `_graft_bloom/<c>` index.
  *
  * A manifest is a directory of JSON-lines files, one flat record per
  * data file (`_graft_stats`: `file`, `n_rows`, `min_<c>`/`max_<c>` per
  * tracked column; `_graft_bloom/<c>`: `file`, `bloom_b64`), rendered by
  * Spark's JSON generator with NULL fields written out or, from parquet
  * footers ([[StatsManifest.fromFooters]]), in its shape. These records are
  * planning metadata, the facts Delta keeps in its log: reading them through
  * `spark.read.json` costs a schema-inference job plus a job per collect,
  * for a few KB. This reader parses them with Jackson instead and gives
  * them the schema Spark's JSON inference gives such records:
  *
  *  - fields sorted by name, a field present in any record is a column;
  *  - integral → bigint (an integer past the long range → decimal(p,0)),
  *    fractional → double, integral mixed with fractional → double;
  *  - booleans → boolean, strings → string, any other mix → string
  *    holding the value's exact source text, a field that is only ever
  *    null → string.
  *
  * Driver memory is O(files × tracked columns) — for a bloom index,
  * O(files × filter bytes) — the order of the version manifest every read
  * already resolves. A malformed line fails loudly: the manifest is
  * derived data, and [[Lake.writeStats]] (or [[Lake.writeBloomIndex]])
  * rebuilds it.
  */
private[graft] final case class StatsManifest(schema: StructType,
    rows: IndexedSeq[Row]) {

  /** Columns the manifest carries bounds for (`min_<c>` present; an
    * all-NULL column's bounds are written as `null`, so it is tracked too).
    */
  def tracked: Seq[String] =
    schema.fieldNames.toSeq.filter(_.startsWith("min_")).map(_.stripPrefix("min_"))

  def has(field: String): Boolean = schema.fieldNames.contains(field)

  /** Each row's data file in the scheme-less identity form (URI.getPath). */
  def files: IndexedSeq[String] =
    if (rows.isEmpty) IndexedSeq.empty
    else {
      val i = schema.fieldIndex("file")
      rows.map(r => new java.net.URI(r.getString(i)).getPath)
    }

  /** The rows as a `LocalRelation` frame: filters and projections over it
    * fold on the driver, and collecting them starts no Spark job (an
    * aggregate still would — dedupe or count the collected rows instead).
    */
  def frame(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Whether each row satisfies `keep`, a predicate over the manifest's
    * fields (build it with [[Lake.skipRange]]): analysed once, then
    * interpreted on the driver — no Spark job, and no generated class for
    * a new literal. NULL counts as false.
    */
  def keeps(spark: SparkSession, keep: Column): IndexedSeq[Boolean] =
    GraftSqlShims.evalLocalFilter(frame(spark), keep)
}

private[graft] object StatsManifest {

  def dir(path: String): Path = new Path(path, "_graft_stats")

  /** The manifest under table `path`, if the table carries one. */
  def at(fs: FileSystem, path: String): Option[StatsManifest] = {
    val d = dir(path)
    if (fs.exists(d)) Some(read(fs, d)) else None
  }

  /** Tracked columns of the table's manifest; empty when it has none. */
  def trackedAt(fs: FileSystem, path: String): Seq[String] =
    at(fs, path).fold(Seq.empty[String])(_.tracked)

  def read(fs: FileSystem, d: Path): StatsManifest = parse(lines(fs, d), d.toString)

  /** The manifest's files as Spark's listing sees them: names starting
    * with `_` or `.` (the `_SUCCESS` marker, checksums) are hidden.
    */
  def files(fs: FileSystem, d: Path): Seq[Path] = {
    val visible = fs.listStatus(d).toSeq.filterNot { s =>
      val n = s.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    require(!visible.exists(_.isDirectory),
      s"stats manifest $d holds a subdirectory - rebuild it with writeStats")
    visible.map(_.getPath).sortBy(_.getName)
  }

  /** Every non-blank line of the manifest, in file-name order. */
  def lines(fs: FileSystem, d: Path): IndexedSeq[String] =
    files(fs, d).flatMap { f =>
      val in = fs.open(f)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filterNot(_.trim.isEmpty).toVector
      finally in.close()
    }.toIndexedSeq

  private val json = new JsonFactory()

  /** Manifest lines for data `files` read from their parquet footers, with
    * no Spark job, in the shape [[Lake.writeStats]] renders the per-file
    * `min`/`max`/`count` aggregate (`file` as `input_file_name` spells it,
    * then `min_<c>`, `max_<c>` per column, then `n_rows`; null bounds
    * written as `null`; a file without rows has no line). Footer
    * statistics are that aggregate exactly when every column is a
    * top-level INT32/INT64 with no or a signed-integer annotation (parquet
    * orders those signed, as Spark does) and every non-empty row group
    * carries statistics. None
    * when a file or column falls outside that: the caller aggregates.
    * `cols` must name the files' physical columns (no renames or type
    * changes between file and table). Cost: one footer read per file.
    */
  def fromFooters(fs: FileSystem, files: Seq[String],
      cols: Seq[String]): Option[Seq[String]] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
    import org.apache.parquet.schema.Type.Repetition.REPEATED
    val out = Seq.newBuilder[String]
    files.foreach { f =>
      val p = fs.makeQualified(new Path(f))
      val footer = Lake.readFooter(fs.getConf, p)
      val schema = footer.getFileMetaData.getSchema
      val exact = cols.forall { c =>
        schema.containsField(c) && {
          val t = schema.getType(schema.getFieldIndex(c))
          t.isPrimitive && !t.isRepetition(REPEATED) && {
            val pt = t.asPrimitiveType
            (pt.getPrimitiveTypeName == INT32 || pt.getPrimitiveTypeName == INT64) &&
            (pt.getLogicalTypeAnnotation match {
              case null => true
              case i: IntLogicalTypeAnnotation => i.isSigned
              case _ => false
            })
          }
        }
      }
      if (!exact) return None
      val blocks = footer.getBlocks.asScala.filter(_.getRowCount > 0).toSeq
      val bounds = cols.map { c =>
        val stats = blocks.map(_.getColumns.asScala
          .find(_.getPath.toArray.sameElements(Array(c))).map(_.getStatistics).orNull)
        if (stats.exists(s => s == null || s.isEmpty)) return None
        val live = stats.filter(_.hasNonNullValue)
        def num(v: Any): Long = v.asInstanceOf[Number].longValue
        c -> (if (live.isEmpty) None
              else Some((live.map(s => num(s.genericGetMin)).min,
                live.map(s => num(s.genericGetMax)).max)))
      }
      val n = blocks.map(_.getRowCount).sum
      if (n > 0) {
        val w = new java.io.StringWriter
        val g = json.createGenerator(w)
        g.writeStartObject()
        g.writeStringField("file", p.toUri.toString)
        bounds.foreach {
          case (c, Some((lo, hi))) =>
            g.writeNumberField(s"min_$c", lo)
            g.writeNumberField(s"max_$c", hi)
          case (c, None) =>
            g.writeNullField(s"min_$c")
            g.writeNullField(s"max_$c")
        }
        g.writeNumberField("n_rows", n)
        g.writeEndObject()
        g.close()
        out += w.toString
      }
    }
    Some(out.result())
  }

  /** One record's fields: name → (inferred type, value, source text). */
  private def record(line: String, where: String): Seq[(String, (DataType, Any, String))] = {
    def bad(why: String): Nothing =
      throw new IllegalStateException(s"malformed stats manifest line under $where ($why): $line")
    val p = json.createParser(line)
    try {
      if (p.nextToken() != JsonToken.START_OBJECT) bad("not a JSON object")
      val out = Seq.newBuilder[(String, (DataType, Any, String))]
      val seen = scala.collection.mutable.HashSet.empty[String]
      var t = p.nextToken()
      while (t == JsonToken.FIELD_NAME) {
        val name = p.currentName()
        if (!seen.add(name)) bad(s"duplicate field $name")
        val v = p.nextToken()
        val text = if (v == JsonToken.VALUE_NULL) null else p.getText
        val cell: (DataType, Any) = v match {
          case JsonToken.VALUE_NULL => (NullType, null)
          case JsonToken.VALUE_STRING => (StringType, text)
          case JsonToken.VALUE_TRUE | JsonToken.VALUE_FALSE =>
            (BooleanType, p.getBooleanValue)
          case JsonToken.VALUE_NUMBER_INT
              if p.getNumberType == JsonParser.NumberType.BIG_INTEGER =>
            val d = new java.math.BigDecimal(p.getBigIntegerValue)
            (if (d.precision <= DecimalType.MAX_PRECISION) DecimalType(d.precision, 0)
             else DoubleType, d)
          case JsonToken.VALUE_NUMBER_INT => (LongType, p.getLongValue)
          case JsonToken.VALUE_NUMBER_FLOAT => (DoubleType, p.getDoubleValue)
          case _ => bad(s"field $name is not a scalar")
        }
        out += name -> (cell._1, cell._2, text)
        t = p.nextToken()
      }
      if (t != JsonToken.END_OBJECT) bad("unterminated object")
      if (p.nextToken() != null) bad("trailing content")
      out.result()
    } catch {
      case e: com.fasterxml.jackson.core.JsonProcessingException =>
        bad(e.getOriginalMessage)
    } finally p.close()
  }

  /** Spark's JSON-inference merge of two field types (JsonInferSchema's
    * compatibleType, restricted to the scalars above).
    */
  private def merge(a: DataType, b: DataType): DataType = (a, b) match {
    case _ if a == b => a
    case (NullType, t) => t
    case (t, NullType) => t
    case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
    case (x: DecimalType, y: DecimalType) =>
      val scale = math.max(x.scale, y.scale)
      val range = math.max(x.precision - x.scale, y.precision - y.scale)
      if (range + scale > DecimalType.MAX_PRECISION) DoubleType
      else DecimalType(range + scale, scale)
    case (x: DecimalType, LongType) => merge(x, DecimalType(20, 0))
    case (LongType, y: DecimalType) => merge(DecimalType(20, 0), y)
    case (_: DecimalType, DoubleType) | (DoubleType, _: DecimalType) => DoubleType
    case _ => StringType
  }

  /** Parse manifest lines into the schema and rows `spark.read.json` gives. */
  def parse(lines: Seq[String], where: String): StatsManifest = {
    val records = lines.map(record(_, where).toMap)
    val types = scala.collection.mutable.HashMap.empty[String, DataType]
    records.foreach(_.foreach { case (n, (t, _, _)) =>
      types(n) = types.get(n).fold(t)(merge(_, t))
    })
    val schema = StructType(types.toSeq.sortBy(_._1).map { case (n, t) =>
      StructField(n, if (t == NullType) StringType else t)
    })
    val rows = records.map { rec =>
      Row.fromSeq(schema.fields.toSeq.map { f =>
        rec.get(f.name) match {
          case None | Some((NullType, _, _)) => null
          case Some((_, v, text)) => f.dataType match {
            case StringType => text
            case DoubleType => v match {
              case l: Long => l.toDouble
              case d: java.math.BigDecimal => d.doubleValue
              case d => d
            }
            case d: DecimalType => v match {
              case l: Long => java.math.BigDecimal.valueOf(l).setScale(d.scale)
              case b: java.math.BigDecimal => b.setScale(d.scale)
            }
            case _ => v
          }
        }
      })
    }
    StatsManifest(schema, rows.toIndexedSeq)
  }
}
