package graft

import graft.pipeline.CorpusPipeline
import org.apache.spark.sql.SparkSession

/**
 * The STAGED deployment of the banded capstone — DiskScale's `cap_banded`
 * row decomposed into resumable jobs with parquet handoffs, one
 * SparkSession per job (the CCNet score-file architecture: Wenzek 2020
 * run LM scoring once and ship score files that the banding/admission
 * jobs read). This is not a workaround but the production shape of a
 * 100 TB corpus build: every stage checkpoints to storage, a failed
 * stage resumes without re-running its predecessors, and each job's LIVE
 * scratch footprint (in-flight shuffle spill + localCheckpoint blocks)
 * dies with its session — the constraint the round-10 single-box probe
 * hit, where ONE fused 15M run's live spill crested the machine's ~75 GB
 * scratch (SCALE.md). On a cluster the same decomposition bounds
 * per-executor scratch per job and gives the pipeline stage-level
 * resume; the handoff artifacts are exactly the frames
 * CorpusPipeline's phase functions exchange, so the staged decision set
 * EQUALS the fused run's (PipelineSpec pins the Report identity on a
 * dirty synthetic corpus; every phase decision is hash/integer-driven on
 * columns parquet round-trips bit-exactly).
 *
 * Jobs (each its own SparkSession; width size-derived from ITS input) are
 * CorpusPipeline.StagedJobs, the named runs of consecutive phases the
 * parquet handoff folds:
 *   clean    docsh → clean (funnel + exact dedup)
 *   neardup  → near_dedup (minhash + components)
 *   screen   → decontaminate + fluency
 *   score    → band_score (the lmf score file over the fluent pool)
 *   admit    → band_admission + finish (splits + packing) → summary JSON
 * Each job commits its frame, then its handoff record (Report so far,
 * seconds) under workdir/staged_<n>/<job>/.
 *
 * Config is DiskScale.capstone, banded — the cap_banded row's (same
 * corpus generator, same mod-10 eval holdout, same stage battery, 49/50
 * fluency bar, band rates head 9/10 / middle 1/2 / tail 1/10, seed 0) —
 * so the staged total is comparable to the fused row and the Report to
 * the fused Report.
 *
 * Usage: runMain graft.StagedCapstone [n, default 15000000]
 *        [workdir, default /tmp/graft-diskscale]
 *        [jobs csv, default all — resume by naming the jobs to run; a
 *         job whose frame and handoff record are committed is skipped]
 */
object StagedCapstone {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.getOrElse("15000000").toLong
    val workdir = args.drop(1).headOption.getOrElse("/tmp/graft-diskscale")
    val jobsArg = args.drop(2).headOption.getOrElse("all")
    val allJobs = CorpusPipeline.StagedJobs.map(_._1)
    val wanted = jobsArg.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = wanted -- (allJobs.toSet + "all")
    require(unknown.isEmpty, s"unknown job(s): ${unknown.mkString(", ")}; " +
      s"known: ${allJobs.mkString(", ")}")
    def want(j: String): Boolean = wanted("all") || wanted(j)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val stageDir = s"$workdir/staged_$n"

    /** Runs `f` in its own session: a job's scratch dies with it. */
    def inSession(job: String)(f: SparkSession => Unit): Unit = {
      val spark = GraftSession.local(cpus, s"graft-staged-$job")
      GraftSession.quietWindowWarnings() // harness: aggregated windows only
      spark.sparkContext.setLogLevel("ERROR")
      try f(spark) finally spark.stop()
    }

    // corpus build (or reuse): DiskScale's Heaps corpus artifact, the
    // one every job reads
    inSession("corpus")(new DiskScale.Corpora(_, workdir, n))

    allJobs.zipWithIndex.filter { case (job, _) => want(job) }.foreach { case (job, i) =>
      inSession(job) { spark =>
        val staged = CorpusPipeline.Staged(stageDir, Set(job))
        if (staged.committed(spark, job).isDefined)
          System.err.println(s"[staged] $job: committed, skipped")
        else {
          val corpora = new DiskScale.Corpora(spark, workdir, n)
          // width derived from the job's own input listing — the rule a
          // cluster job applies
          val input = allJobs.take(i).lastOption
            .flatMap(staged.committed(spark, _)).fold(corpora.path("docsh"))(_.frame)
          val width = GraftSession.sizeShuffleFor(spark,
            GraftSession.bytesOnDisk(spark, input))
          System.err.println(s"[staged] job=$job input=$input width=$width")
          DiskScale.capstone(corpora.docsH, banded = true, Some(staged))
          staged.committed(spark, job).foreach(c =>
            println(s"""{"job":"$job","sec":${Bench.f2(c.sec)}}"""))
        }
      }
    }

    // the fused-Report-equivalent summary + staged total, from the
    // committed records — the same line whichever run finished the jobs
    inSession("summary") { spark =>
      val staged = CorpusPipeline.Staged(stageDir, Set.empty)
      val done = allJobs.flatMap(j => staged.committed(spark, j).map(j -> _))
      if (done.size == allJobs.size) {
        val r = done.last._2.report
        val splitStr = r.splitCounts.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
        val secStr = done
          .map { case (j, c) => s""""$j":${Bench.f2(c.sec)}""" }.mkString("{", ",", "}")
        println(s"""{"staged_cap_banded":$n,"input":${r.input},""" +
          s""""cleaned":${r.cleaned},"after_exact":${r.afterExactDedup},""" +
          s""""after_near":${r.afterNearDedup},"contaminated":${r.contaminated},""" +
          s""""fluency_filtered":${r.fluencyFiltered},"after_fluency":${r.afterFluency},""" +
          s""""band_rate_filtered":${r.bandRateFiltered},""" +
          s""""after_band_rate":${r.afterBandRate},"corpus":${r.corpus},""" +
          s""""splits":$splitStr,"train_sequences":${r.trainSequences},""" +
          s""""job_sec":$secStr,"total_sec":${Bench.f2(done.map(_._2.sec).sum)}}""")
      }
    }
  }
}
