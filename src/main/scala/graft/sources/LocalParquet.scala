package graft.sources

import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Driver-side single-parquet-file writer for frames whose rows the
  * driver already holds: METADATA-sized ones (lineage segments,
  * checkpoint folds, the one-row-batch appends of [[appendFile]]) and
  * the data files of a small commit whose batch is a local relation
  * (TimeTravel's driver layout, one file per z-curve run) — the rows
  * are already local `Array[Row]`s, and launching a Spark job (task +
  * output-committer temporary-directory dance + rename) per one-file
  * write was a fixed per-commit cost the data never justified (r18,
  * guide §1.2 — same move as [[graft.operators.Ledger]]'s jobless
  * record). Writes through parquet-mr with the SAME logical types
  * Spark's reader maps back to the source Spark types (string=UTF8
  * binary, date=INT32/DATE, timestamp=INT64 micros UTC-adjusted — a
  * lossless image of Spark's internal micros), so `spark.read
  * .parquet`/mergeSchema over mixed Spark-written and locally-written
  * files sees one coherent schema.
  *
  * Conservative by construction: [[write]] returns false — and writes
  * NOTHING — whenever any field's type or column name falls outside
  * the proven mapping; the caller then takes the original Spark write.
  * All fields are written `optional` (Spark reads them nullable; every
  * lineage consumer normalizes nullability already).
  */
private[graft] object LocalParquet {

  // MessageTypeParser-safe column names; anything else falls back
  private val SafeName = "[A-Za-z_][A-Za-z0-9_]*".r.pattern

  private def parquetField(f: StructField): Option[String] = {
    if (!SafeName.matcher(f.name).matches()) return None
    f.dataType match {
      case LongType      => Some(s"optional int64 ${f.name};")
      case IntegerType   => Some(s"optional int32 ${f.name};")
      case DoubleType    => Some(s"optional double ${f.name};")
      case FloatType     => Some(s"optional float ${f.name};")
      case BooleanType   => Some(s"optional boolean ${f.name};")
      case StringType    => Some(s"optional binary ${f.name} (UTF8);")
      case DateType      => Some(s"optional int32 ${f.name} (DATE);")
      case TimestampType =>
        Some(s"optional int64 ${f.name} (TIMESTAMP(MICROS,true));")
      case _ => None
    }
  }

  /** Is every field of `schema` inside the proven type map? Callers
    * that must know BEFORE committing to a staged rewrite (e.g. a
    * staged-swap whose write closure may not fail halfway) check this
    * up front instead of relying on [[write]]'s false return. */
  def supports(schema: StructType): Boolean =
    schema.fields.forall(f => parquetField(f).isDefined)

  /** Write `rows` under `schema` as ONE parquet file at `path`
    * (driver-side, no Spark job). False (nothing written) when the
    * schema is outside the supported map — caller falls back. `codec`
    * and `message` (the footer's root schema name) are part of the
    * file's bytes; a family whose file sizes are accounted keeps its
    * own. */
  def write(rows: Array[Row], schema: StructType, path: String,
            hconf: org.apache.hadoop.conf.Configuration,
            codec: CompressionCodecName = CompressionCodecName.SNAPPY,
            message: String = "lineage_segment"): Boolean = {
    val fields = schema.fields.map(parquetField)
    if (fields.exists(_.isEmpty)) return false
    val msg = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      fields.flatten.mkString(s"message $message { ", " ", " }"))
    val conf = new org.apache.hadoop.conf.Configuration(hconf)
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(msg, conf)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(new org.apache.hadoop.fs.Path(path), conf))
      .withConf(conf)
      .withCompressionCodec(codec)
      .build()
    try rows.foreach { r =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(msg)
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (!r.isNullAt(i)) f.dataType match {
          case LongType    => g.append(f.name, r.getLong(i))
          case IntegerType => g.append(f.name, r.getInt(i))
          case DoubleType  => g.append(f.name, r.getDouble(i))
          case FloatType   => g.append(f.name, r.getFloat(i))
          case BooleanType => g.append(f.name, r.getBoolean(i))
          case StringType  => g.append(f.name, r.getString(i))
          case DateType => g.append(f.name, r.get(i) match {
            case d: java.sql.Date =>
              org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d)
            case d: java.time.LocalDate =>
              org.apache.spark.sql.catalyst.util.DateTimeUtils
                .localDateToDays(d)
          })
          case TimestampType => g.append(f.name, r.get(i) match {
            case t: java.sql.Timestamp =>
              org.apache.spark.sql.catalyst.util.DateTimeUtils
                .fromJavaTimestamp(t)
            case t: java.time.Instant =>
              org.apache.spark.sql.catalyst.util.DateTimeUtils
                .instantToMicros(t)
          })
          case other => throw new IllegalStateException(
            s"unreachable: $other passed parquetField")
        }
      }
      w.write(g)
    } finally w.close()
    true
  }

  /** Land `rows` in directory `dir` as ONE new file, without a Spark
    * job: [[write]] to a unique sibling temp file
    * (`<dir>_<tag>tmp_<token>.parquet`), then rename it into `dir` as
    * `<tag>_<token>_0.parquet`. The rename is the file's birth, so a
    * reader never sees a partial file and concurrent appenders commute
    * (distinct tokens). Creates `dir` when absent. Returns the landed
    * name; None (nothing written) when the schema is outside the
    * supported map. The one append of the driver-snapshot families
    * whose rows are interaction-sized (batch ledgers, tombstone
    * sidecars, the bookmark store).
    */
  def appendFile(rows: Array[Row], schema: StructType, dir: String,
                 tag: String, hconf: org.apache.hadoop.conf.Configuration,
                 codec: CompressionCodecName = CompressionCodecName.SNAPPY,
                 message: String = "lineage_segment"): Option[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(hconf)
    val token = java.util.UUID.randomUUID().toString.take(12)
    val tmp = dir.stripSuffix("/") + s"_${tag}tmp_$token.parquet"
    if (!write(rows, schema, tmp, hconf, codec, message)) return None
    fs.mkdirs(path)
    val name = s"${tag}_${token}_0.parquet"
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp),
        new org.apache.hadoop.fs.Path(path, name)),
      s"$tag append: could not promote $tmp into $dir")
    Some(name)
  }
}
