package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** How a curation chain's stage boundary materializes. The chains
  * ([[Curation.curate]], `SparkEntryExt.pipelineE2eChain`) cut every
  * stage through one [[Cut]] and never decide the form themselves: the
  * registered queries pass [[local]], a long cluster run passes
  * [[staged]]. One chain body serves both forms, so they cannot drift
  * (OpsSpec pins staged ≡ local row for row).
  *
  * In-plan cuts inside single operators (label rounds, MMR rounds,
  * shared corpus statistics) are not stage boundaries and stay with
  * their operator.
  */
object Lineage {

  /** A stage-boundary hook: the stage's input and its name in, the cut
    * stage out. The input is a THUNK, not a DataFrame: several stages
    * run real work at construction time, not just at action time
    * (keepBest's label rounds eagerly localCheckpoint per iteration;
    * dsirSelect's boundary cut executes its upstream shuffle stages
    * under AQE), so a resume-capable cut must be able to skip a
    * completed stage WITHOUT constructing its plan — only a deferred
    * input makes "read the staged table instead" actually free.
    */
  type Cut = (() => DataFrame, String) => DataFrame

  /** The small-scale form: a lazy `localCheckpoint` — fast (no
    * filesystem round-trip), but it stores unreplicated executor-local
    * blocks AND severs lineage, so on a real cluster one lost executor
    * kills the job unrecoverably. Use [[staged]] for a long 100 TB run.
    */
  val local: Cut = (compute, _) => compute().localCheckpoint(false)

  /** The durable form: every stage becomes a Parquet table at
    * `stagePath/<stage name>`. A lost executor re-reads from storage
    * instead of dying with its checkpoint blocks, and the staged tables
    * are the natural ingest points for downstream consumers.
    *
    * `resume = true` makes the restart claim real code, not an
    * operator's manual: a stage whose table already committed is
    * READ, with its entire upstream construction skipped; the first
    * missing stage and EVERYTHING AFTER it recompute and rewrite
    * (a chain fires its cuts in stage order, so one `dirty` latch per
    * `Cut` value gives the cascade — a recomputed middle stage can
    * never be silently stitched to downstream tables derived from its
    * previous generation). Build a fresh `Cut` per run. Commit is
    * checked through the path's Hadoop `FileSystem` (so
    * `hdfs://`/`s3a://` stage paths resume too, not just local disk)
    * and requires BOTH the writer's `_SUCCESS` marker AND the
    * `_schema.json` this cut writes after the data commits — a crash
    * anywhere mid-stage leaves at most one of the two, and the stage
    * recomputes. On object-store committers configured to skip
    * `_SUCCESS` markers, resume degrades SAFELY: nothing skips,
    * everything recomputes. Reads always carry an explicit schema (the
    * written df's, or `_schema.json` on a skip), so a stage that
    * legitimately winnows to ZERO rows — Parquet dir with no part
    * files — reads back as the empty DataFrame instead of failing
    * schema inference, keeping the staged form row-identical to the
    * checkpointed form on degenerate corpora too. The remaining
    * contract is the same one every staged warehouse pipeline carries:
    * stage tables under one `stagePath` belong to one logical run —
    * resuming over stages produced by DIFFERENT inputs/knobs is the
    * caller's staleness bug, which production runs prevent by deriving
    * `stagePath` from a run id (OpsSpec pins the skip, tail-recompute,
    * and middle-stage-cascade sides). Stages are read and written
    * through the active session.
    */
  def staged(stagePath: String, resume: Boolean = false): Cut = {
    var dirty = false
    (compute, name) => {
      val s = SparkSession.active
      val dir = new Path(s"$stagePath/$name")
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      val marker = new Path(dir, "_SUCCESS")
      val schemaFile = new Path(dir, "_schema.json")
      val committed = fs.exists(marker) && fs.exists(schemaFile)
      // a torn sidecar (crash after fs.create succeeded but before the
      // write/close finished) must read as UNCOMMITTED — fall through
      // to recompute instead of throwing out of DataType.fromJson,
      // keeping the "crash anywhere mid-stage recomputes" contract
      val schema: Option[StructType] =
        if (resume && committed && !dirty) {
          val in = fs.open(schemaFile)
          val json =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
          scala.util.Try(DataType.fromJson(json).asInstanceOf[StructType]).toOption
        } else None
      schema match {
        case Some(st) => s.read.schema(st).parquet(dir.toString)
        case None =>
          dirty = true
          val df = compute()
          df.write.mode("overwrite").parquet(dir.toString)
          // schema sidecar AFTER the data commit, written to a temp name
          // and renamed into place: its presence is half the commit
          // predicate, so neither a crash between the two writes nor a
          // torn sidecar write can read as committed
          val tmp = new Path(dir, "._schema.json.tmp")
          val out = fs.create(tmp, true)
          try out.write(df.schema.json.getBytes("UTF-8")) finally out.close()
          if (fs.exists(schemaFile)) fs.delete(schemaFile, false): Unit
          if (!fs.rename(tmp, schemaFile))
            throw new java.io.IOException(s"rename $tmp -> $schemaFile failed")
          s.read.schema(df.schema).parquet(dir.toString)
      }
    }
  }
}
