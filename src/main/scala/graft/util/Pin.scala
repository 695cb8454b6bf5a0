package graft.util

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** The engine's one materialization step. `import graft.util.Pin._`,
  * then end a chain with `.pin`: the frame is computed once, eagerly,
  * into executor-local blocks, so what reads it (several consumers, the
  * next round of a loop, an overwrite of the table it came from) never
  * re-runs its lineage. End it with `.pinObserving(metrics)` when the
  * caller also needs numbers about the pinned rows.
  *
  * Trade-off, stated once for every pin: a pinned frame has no lineage,
  * so an executor lost after the pin fails the query instead of
  * recomputing the lost blocks. `persist(MEMORY_AND_DISK)` keeps lineage
  * but measured 0.94× on q105, 0.71× on q187 and 0.73× on q204 (idle,
  * sf0.1, local[32]): InMemoryRelation's columnar build plus per-round
  * cache substitution at planning.
  *
  * A pin's job and RDD are named after the line that pinned
  * (`localCheckpoint at Components.scala:80`), not after this file.
  */
private[graft] object Pin {
  implicit final class PinOps(private val df: DataFrame) extends AnyVal {
    def pin: DataFrame = atCaller(df)(df.localCheckpoint())

    /** [[pin]] plus the aggregate `metrics` (each named with `.as`) over
      * the pinned rows, by name. They ride the pin's own job through
      * `observe`, so a count or a touched-partition set costs no second
      * job and describes exactly the rows pinned. */
    def pinObserving(metric: Column, more: Column*): (DataFrame, Map[String, Any]) =
      atCaller(df) {
        val obs = Observation()
        val pinned = df.observe(obs, metric, more: _*).localCheckpoint()
        (pinned, obs.get)
      }
  }

  /** Runs `body` with the call site set to the first stack frame
    * outside this object, then restores the previous call site. */
  private def atCaller[T](df: DataFrame)(body: => T): T = {
    val sc = df.sparkSession.sparkContext
    val (short, long) = (sc.getLocalProperty("callSite.short"), sc.getLocalProperty("callSite.long"))
    new Throwable().getStackTrace.find(!_.getClassName.startsWith("graft.util.Pin"))
      .foreach(f => sc.setCallSite(s"localCheckpoint at ${f.getFileName}:${f.getLineNumber}"))
    try body
    finally {
      sc.setLocalProperty("callSite.short", short)
      sc.setLocalProperty("callSite.long", long)
    }
  }
}
