package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one presence rule for a persisted parquet table — the
  * reference's storage rule (s3_client.py:141-145): a missing object
  * means "no table yet, start fresh".
  *
  * A table is present iff its path exists and lists at least one entry
  * whose name does not start with `_` or `.` — so a missing path, a
  * pre-created empty directory, or one holding only `_SUCCESS` / `.crc`
  * markers all read as absent. The probe goes through the Hadoop file
  * system of the path's scheme, so local paths and `file:`, `s3a:` or
  * `hdfs:` URIs answer alike.
  *
  * Presence is decided by the probe, never by a failed read: once any
  * `observe()` has run in a session, Spark's observation listener logs
  * each failed read as an error, and matching exception message text
  * drifts across Spark versions. A present table is read with no
  * `catch`, so a non-empty directory Spark cannot read stays loud —
  * silently reading it as "no history" would let an upsert's overwrite
  * discard stored rows, or let a dedup forward duplicates.
  */
private[graft] object ParquetTable {

  def readIfPresent(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val present = fs.exists(p) && fs.listStatus(p).exists { st =>
      val name = st.getPath.getName
      !name.startsWith("_") && !name.startsWith(".")
    }
    if (present) Some(spark.read.parquet(path)) else None
  }
}
