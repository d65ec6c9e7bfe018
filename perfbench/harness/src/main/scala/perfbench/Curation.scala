package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The curation batch workload: one closed pass over six curation faces,
  * called through `SparkEntry.queries` on a freshly generated corpus with
  * its own bucketed-index root, so index bootstrap and append do real work.
  * The pass is timed cold, in a fresh JVM, as a batch driver runs it. Each
  * face's result is written as parquet (the timed action) for the oracle
  * comparison `run.py` makes after this JVM has exited. The corpus is
  * generated before the JVM starts.
  */
object Curation {

  val Faces = Seq(
    "d_ingest_index_capstone", "m_ingest_index_capstone", "d_neardup_indexed",
    "m_phash_clusters", "d_dsir_pipeline", "s_ann_pq_ivf")

  def run(spark: SparkSession, work: String, out: Results.T, rec: Option[Recorder]): Unit = {
    System.setProperty("GRAFT_BUCKETED_ROOT", s"$work/bucketed")
    val faces = Faces.map(f => f -> graft.SparkEntry.queries(f))
    Files.writeString(Paths.get(work, "oracle_sql.json"),
      Json.write(Faces.map(f => f -> graft.SparkEntry.oracleSql(f)).toMap))
    val sc = spark.sparkContext
    rec.foreach(_.start())
    val t0 = System.currentTimeMillis()
    val runs = faces.map { case (name, fn) =>
      sc.setLocalProperty(Recorder.FaceKey, name)
      val s = System.currentTimeMillis()
      val error =
        try { fn(spark, s"$work/corpus").write.mode("overwrite").parquet(s"$work/faces/$name"); None }
        catch { case e: Exception => Some(e.toString) }
      sc.setLocalProperty(Recorder.FaceKey, null)
      (name, s, System.currentTimeMillis(), error)
    }
    val t1 = System.currentTimeMillis()
    out("pass_start_ms") = t0
    out("pass_end_ms") = t1
    Harness.recordMemory(out)
    out("faces") = runs.map { case (name, s, e, error) =>
      Map("name" -> name, "start_ms" -> s, "end_ms" -> e, "error" -> error)
    }
    rec.foreach { r =>
      r.stop()
      val jobs = r.jobRecs
      val perFace = runs.flatMap { case (name, s, e, _) =>
        val js = jobs.filter(_.face.contains(name))
        r.addJobSpans(r.addSpan(s"face $name", 0, s, e), js)
        Seq(
          s"face.$name.wall_s" -> (e - s) / 1000.0,
          s"face.$name.jobs" -> js.size.toDouble,
          s"face.$name.driver_gap_ms" -> r.gapMs(s, e, js).toDouble,
          s"face.$name.shuffle_bytes" -> r.faceShuffleBytes(name))
      }
      out("layers") = r.summary(t0, t1) ++ perFace
    }
  }
}
