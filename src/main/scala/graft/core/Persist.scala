package graft.core

import org.apache.spark.sql.DataFrame

/** Run several actions over one frame while computing its plan once.
  *
  * A `foreachBatch` micro-batch is an unpersisted `LogicalRDD` over the
  * whole streaming plan, so every write against it re-runs the source read
  * and any keyed state pass (which then commits again). Persisted, the
  * first action materializes it and later ones — and frames derived from
  * it, which the CacheManager rewrites onto the cache — read the rows.
  */
object Persist {

  /** Persist `df`, run `use` on it, unpersist in `finally`. */
  def once[A](df: DataFrame)(use: DataFrame => A): A = {
    val cached = df.persist()
    try use(cached)
    finally { cached.unpersist(); () }
  }
}
