package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** Planning-time dataset statistics.
  *
  * The ANN operators size their hash/cell spaces from the input row
  * count (SURVEY §5) — the same class of statistic AQE plans from. The
  * count comes from parquet FOOTER metadata (exact, no Spark job), read
  * on every call: a dataset rewritten in-process can never leave a
  * stale count behind to mis-size the LSH bit / IVF cell spaces.
  */
object Stats {

  /** Exact row count of a parquet file or directory of part files. */
  def parquetRowCount(s: SparkSession, path: String): Long = {
    val conf = s.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val files: Seq[Path] =
      if (fs.getFileStatus(root).isFile) Seq(root)
      else {
        val it = fs.listFiles(root, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
        while (it.hasNext) {
          val f = it.next()
          if (f.isFile && f.getPath.getName.endsWith(".parquet")) buf += f.getPath
        }
        buf.toSeq
      }
    files.iterator.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }
}
