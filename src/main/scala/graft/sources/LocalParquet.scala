package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport, GroupWriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{MessageType, MessageTypeParser, PrimitiveType}

/** Driver-side parquet I/O for METADATA-SCALE relations — single-column
  * key sets whose bytes are manifest-bounded small (tombstones, id
  * slabs). A distributed engine should not pay a scheduler-floor Spark
  * job to write or read a kilobyte of keys the driver already holds:
  * the table-format systems this store mirrors (Delta, Iceberg) write
  * exactly this class of sidecar — deletion vectors, manifests —
  * driver-side for the same reason. Files are plain parquet
  * (parquet-mr example API, the library Spark itself bundles), so every
  * existing distributed reader consumes them unchanged; callers gate on
  * a size bound and fall back to the distributed path past it.
  */
private[graft] object LocalParquet {

  private def conf(): Configuration = new Configuration()

  private def schemaFor(name: String, string: Boolean): MessageType =
    MessageTypeParser.parseMessageType(
      if (string) s"message graft_keys { required binary $name (UTF8); }"
      else s"message graft_keys { required int64 $name; }")

  /** Write one single-column key file. Values must be non-null
    * (tombstone keys are by contract — null keys never equi-match and
    * the committers drop them). Longs unless `string`. */
  def writeKeys(file: java.nio.file.Path, name: String,
                values: Seq[Any], string: Boolean): Unit = {
    val schema = schemaFor(name, string)
    val c = conf()
    GroupWriteSupport.setSchema(schema, c)
    val w = ExampleParquetWriter.builder(new Path(file.toUri))
      .withConf(c).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try {
      val f = new SimpleGroupFactory(schema)
      values.foreach { v =>
        val g = f.newGroup()
        if (string) g.append(name, v.asInstanceOf[String].toString)
        else g.append(name, v.asInstanceOf[Number].longValue())
        w.write(g)
      }
    } finally w.close()
  }

  /** Total bytes of the `.parquet` data files under `dir` (flat), or
    * None when the directory has none — the caller's driver-read size
    * gate. */
  def dataFileBytes(dir: java.nio.file.Path): Option[Long] = {
    val fs = listParquet(dir)
    if (fs.isEmpty) None else Some(fs.map(java.nio.file.Files.size(_)).sum)
  }

  def listParquet(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    if (!java.nio.file.Files.isDirectory(dir)) return Nil
    val s = java.nio.file.Files.list(dir)
    try {
      val out = ArrayBuffer[java.nio.file.Path]()
      s.forEach(p => if (p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith(".")) out += p)
      out.toSeq.sortBy(_.toString)
    } finally s.close()
  }

  /** Read one column from the given parquet files on the driver —
    * `Some(values)` (Long or String elements, nulls skipped: the
    * consumers are key sets whose null keys never equi-match) iff EVERY
    * file holds the column as INT64 or UTF8 binary; `None` sends the
    * caller to the distributed read (unexpected type, unreadable file —
    * never a guess). */
  def readKeys(files: Seq[java.nio.file.Path],
               name: String): Option[Seq[Any]] =
    try {
      val out = ArrayBuffer[Any]()
      files.foreach { f =>
        val r = ParquetReader
          .builder(new GroupReadSupport(), new Path(f.toUri))
          .withConf(conf()).build()
        try {
          var g = r.read()
          if (g != null) {
            val idx = g.getType.getFieldIndex(name)
            val prim = g.getType.getType(idx).asPrimitiveType()
              .getPrimitiveTypeName
            val isLong = prim == PrimitiveType.PrimitiveTypeName.INT64
            val isStr = prim == PrimitiveType.PrimitiveTypeName.BINARY
            if (!isLong && !isStr) return None
            while (g != null) {
              if (g.getFieldRepetitionCount(idx) > 0)
                out += (if (isLong) g.getLong(idx, 0)
                        else g.getString(idx, 0))
              g = r.read()
            }
          }
        } finally r.close()
      }
      Some(out.toSeq)
    } catch { case scala.util.control.NonFatal(_) => None }
}
