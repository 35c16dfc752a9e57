package kgbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Candidates, GraftConfig}
import graft.operators.Dedup
import graft.oracle.Oracle
import graft.pipeline._

/** One iteration's materialized outputs. The timed region ends when this
  * is built; checks, counters and release run after it. */
trait Outcome {
  /** Result rows: triples for kg_*, near-duplicate pairs for dedup. */
  def items: Long
  /** Order-independent digest of the final result. */
  def digest: String
  /** The workload's own output check: None when it passes. */
  def check(corrupt: Boolean): Option[String]
  /** Layer counters of this iteration, each paired with its base. */
  def counters: Map[String, Double]
  /** Wall seconds of the resume run (kg_checkpointed), else 0. */
  def resumeS: Double = 0.0
  /** Frees every block the iteration cached. */
  def release(): Unit
}

trait Workload {
  def shape: Shape
  /** Unmeasured warm-up iterations between the cold and the measured ones. */
  def warmUp: Int = 1
  /** Run once per run after set-up, outside every timed region and
    * outside set-up time: builds whatever the checks compare against. */
  def reference(spark: SparkSession, files: InputFiles): Unit = ()
  def iterate(spark: SparkSession, tr: Tracer, files: InputFiles, dir: String): Outcome
}

object Workloads {
  val cfg: GraftConfig = GraftConfig.default

  /** `tiny` shrinks every input for the benchmark's self-test. */
  def apply(name: String, tiny: Boolean): Workload = {
    val nConv = if (tiny) 20 else 100
    name match {
      case "kg_sweep" => new KgWorkload(Shape(nConv = nConv), checkpointed = false)
      case "kg_checkpointed" => new KgWorkload(Shape(nConv = nConv), checkpointed = true)
      // 9,800 base entities + near-duplicates = 10,045 > broadcastSweepMaxDict,
      // so the blocked tier engages by the engine's own rule
      case "kg_blocked" =>
        new KgWorkload(Shape(nConv = if (tiny) 20 else 200, megaEntities = 9800), checkpointed = false)
      case "dedup_boilerplate" =>
        new DedupWorkload(if (tiny) Shape(nDocs = 200, copies = 9) else Shape(nDocs = 500, copies = 29))
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
  }

  /** Persists and materializes `ds` — the layer boundary. */
  def keep[T](ds: Dataset[T], cached: mutable.Buffer[DataFrame]): Dataset[T] = {
    val p = ds.persist()
    p.count()
    cached += p.toDF()
    p
  }

  /** count:lo:hi — row count plus the sums of the low and high 32 bits of
    * each row's xxhash64 over `cols` (as strings). Equal row multisets give
    * equal digests regardless of partitioning or order. */
  def digest(df: DataFrame, cols: String*): String = {
    val h = xxhash64(cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(0xffffffffL)), sum(shiftrightunsigned(h, 32)))
      .head()
    s"${r.get(0)}:${r.get(1)}:${r.get(2)}"
  }

  /** `df` with its first row duplicated: the self-test's corrupted output. */
  def corrupted(df: DataFrame): DataFrame = df.union(df.limit(1))
}

/** The KG pipeline (KgPipeline.run's stages), one layer function per span.
  *
  *  - kg_sweep: the ~50-entity Synth.dictionary, so the broadcast-sweep
  *    decide tier runs; triples must equal Oracle.run's on the same input.
  *  - kg_checkpointed: kg_sweep's input and check, with every stage going
  *    through Checkpoints.stage and the triples to the pred-partitioned
  *    sink; a resume run then reads every stage back, and its triples must
  *    equal the clean run's.
  *  - kg_blocked: a megaDictionary above broadcastSweepMaxDict, so the
  *    blocked tier runs; checked by MegaDictBench's deterministic 5%
  *    exact-sweep sample referee.
  */
final class KgWorkload(val shape: Shape, checkpointed: Boolean) extends Workload {
  import Workloads._

  private val oracle = shape.megaEntities == 0
  // a blocked-tier iteration (~25-30 s) leaves room for two warm iterations
  // under Main's hard limit: both are measured
  override val warmUp: Int = if (oracle) 1 else 0
  private var oracleDigest = ""

  override def reference(spark: SparkSession, files: InputFiles): Unit = if (oracle) {
    import spark.implicits._
    val turns = spark.read.parquet(files.transcripts).as[graft.model.Turn].collect().toSeq
    val triples = Oracle.run(turns, Inputs.dictionary(spark, files), cfg).triples.toSeq
    oracleDigest = digest(spark.createDataset(triples).toDF(), "subj", "pred", "obj")
  }

  private final class Run(
      val entities: DataFrame, val mentions: DataFrame, val decisions: DataFrame,
      val components: DataFrame, val triples: DataFrame, val staged: Seq[DataFrame],
      val pairs: Option[(DataFrame, Int)], val cached: mutable.Buffer[DataFrame])

  /** Clean run from the parquet inputs to materialized triples. */
  private def pipeline(spark: SparkSession, tr: Tracer, files: InputFiles,
                       cp: Option[Checkpoints]): Run = {
    import spark.implicits._
    val cached = mutable.Buffer[DataFrame]()
    val staged = mutable.Buffer[DataFrame]() // checkpoint read-backs, in stage order
    // downstream layers read the written stage back, as in KgPipeline.run
    def stage(name: String)(df: DataFrame): DataFrame = cp match {
      case None => df
      case Some(c) =>
        staged += tr.layer("checkpoint_write")(keep(c.stage(name)(df), cached))
        staged.last
    }
    val turns = tr.layer("source")(keep(TranscriptSource.read(spark, files.transcripts), cached))
    val (dict, entities) = tr.layer("entities") {
      val d = Inputs.dictionary(spark, files)
      (d, keep(EntityStore.prepare(spark, d, cfg), cached))
    }
    lazy val entityB = keep(Blocking.entityBlocks(entities, cfg), cached)
    val mentions = stage("mentions")(
      tr.layer("mentions")(keep(MentionStage.detect(spark, turns, dict).toDF(), cached)))
    val prep = tr.layer("prepare")(keep(
      Scorer.prepareMentions(mentions, cfg).select(Scorer.mentionPrepCols.map(col): _*), cached))
    // KgPipeline.decideTier, split at the blocking/decide boundary
    val (decided, pairs) =
      if (dict.size <= cfg.broadcastSweepMaxDict)
        (tr.layer("decide")(keep(Scorer.decideBest(spark, prep, None, entities, cfg), cached)), None)
      else {
        val (pairs, nPart, hot) = tr.layer("blocking") {
          val mentionB = keep(Blocking.mentionBlocks(prep, cfg), cached)
          val mentionCount = math.max(mentions.count(), 1L)
          val hot = Blocking.hotKeySketch(mentionB, math.max(mentionCount / 100, 100L))
          val nPart = KgPipeline.autoShufflePartitions(spark, mentionCount, cfg)
          (keep(Blocking.candidateSets(spark, mentionB, entityB, cfg, hot,
            numPartitions = Some(nPart)), cached), nPart, hot.size)
        }
        (tr.layer("decide")(keep(Scorer.decideBest(spark, prep, Some(pairs), entities, cfg,
          sweep = false, numPartitions = Some(nPart)), cached)), Some((pairs, hot)))
      }
    val decisions = stage("decisions")(decided)
    val edges = tr.layer("dup_edges")(keep(
      if (dict.size.toLong <= math.min(cfg.broadcastSweepMaxDict, 2000L))
        Candidates.dupEdges(Candidates.prep(dict, cfg), cfg).toDF("src", "dst")
      else Scorer.entityDupEdges(entityB, entities, cfg), cached))
    val components = stage("components")(tr.layer("components") {
      val vertices = entities.select(col("id"))
        .union(decisions.filter(col("resolved_id").isNotNull).select(col("resolved_id").as("id")))
        .distinct()
      keep(ConnectedComponents.run(vertices, edges), cached)
    })
    val triples = tr.layer("triples")(keep(TripleEmitter.all(entities, decisions, components), cached))
    stage("triples")(triples)
    new Run(entities, mentions, decisions, components, triples, staged.toSeq, pairs, cached)
  }

  def iterate(spark: SparkSession, tr: Tracer, files: InputFiles, dir: String): Outcome = {
    val root = s"$dir/checkpoints"
    val run = pipeline(spark, tr, files,
      if (checkpointed) Some(new Checkpoints(spark, Some(root), "clean")) else None)
    var resumeTriples: Option[DataFrame] = None
    var resumeWall = 0.0
    if (checkpointed) {
      tr.layer("triples_write")(TripleEmitter.write(run.staged.last, s"$dir/triples"))
      val t0 = System.nanoTime()
      // a resuming process starts with nothing cached: drop the clean run's
      // read-backs, whose plans the resume reads would otherwise hit
      run.staged.foreach(_.unpersist(false))
      val cp = new Checkpoints(spark, Some(root), "resume")
      val back = Seq("mentions", "decisions", "components", "triples").map { name =>
        tr.layer("checkpoint_read")(keep(
          cp.stage(name)(sys.error(s"resume recomputed stage '$name'")), run.cached))
      }
      resumeTriples = Some(back.last)
      resumeWall = (System.nanoTime() - t0) / 1e9
    }
    val full = Seq("subj", "pred", "obj", "props")

    new Outcome {
      lazy val items: Long = run.triples.count()
      lazy val digest: String = Workloads.digest(run.triples, full: _*)
      override def resumeS: Double = resumeWall

      def check(corrupt: Boolean): Option[String] = {
        def bad(df: DataFrame) = if (corrupt) corrupted(df) else df
        if (!oracle) sampleReferee(spark, run, corrupt)
        else {
          val clean = Workloads.digest(bad(run.triples), "subj", "pred", "obj")
          if (clean != oracleDigest) Some(s"triples digest $clean != oracle digest $oracleDigest")
          else resumeTriples.map(t => Workloads.digest(bad(t), full: _*)).filter(_ != digest)
            .map(r => s"resume triples digest $r != clean digest $digest")
        }
      }

      def counters: Map[String, Double] = {
        val byDecision = run.decisions.groupBy("decision").count().collect()
          .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
        val decisions = byDecision.values.sum
        val blocking = run.pairs.map { case (pairs, hot) =>
          val mentions = run.mentions.count().toDouble
          val cands = pairs.agg(sum(size(col("cands")))).head().getLong(0).toDouble
          Map("blocking.mentions" -> mentions,
            "blocking.candidates_per_mention" -> cands / math.max(mentions, 1.0),
            "blocking.hot_keys" -> hot.toDouble)
        }.getOrElse(Map.empty)
        blocking ++ Map("decide.decisions" -> decisions,
          "decide.merge_share" -> byDecision.getOrElse("merge", 0.0) / math.max(decisions, 1.0))
      }

      def release(): Unit = {
        KgPipeline.Outputs(run.mentions, run.decisions, run.components, run.triples,
          KgPipeline.decisionStats(run.decisions), run.cached.toSeq).release()
        ConnectedComponents.releaseResult(run.components)
      }
    }
  }

  /** MegaDictBench's `sample` referee: the exact broadcast sweep over a
    * deterministic 5% mention sample must agree with the blocked run's
    * (decision, resolved_id) on at least 95% of the sample (the
    * north-rule P/R bar). */
  private def sampleReferee(spark: SparkSession, run: Run, corrupt: Boolean): Option[String] = {
    val prep = Scorer.prepareMentions(run.mentions, cfg)
      .select(Scorer.mentionPrepCols.map(col): _*)
      .filter(pmod(xxhash64(col("mention_id")), lit(20)) === 0)
      .persist()
    try {
      val exact = Scorer.decideBest(spark, prep, None, run.entities, cfg)
        .select(col("mention_id"), col("decision").as("d_a"), col("resolved_id").as("r_a"))
      val blocked = run.decisions.select(col("mention_id"),
        (if (corrupt) lit("corrupt") else col("decision")).as("d_b"), col("resolved_id").as("r_b"))
      val r = exact.join(blocked, "mention_id")
        .agg(count(lit(1)), sum((col("d_a") === col("d_b") && (col("r_a") <=> col("r_b")))
          .cast("long"))).head()
      val (n, ok) = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      val agreement = ok.toDouble / math.max(n, 1L)
      if (n == 0 || agreement < 0.95) Some(f"sample referee agreement $agreement%.4f over $n mentions < 0.95")
      else None
    } finally prep.unpersist(false)
  }
}

/** Boilerplate-family dedup: Dedup.shingleSets over cloneBoilerplate of the
  * generated documents, then the exhaustive jaccardPairs and minhashLsh.
  * Both must return the same pair set. */
final class DedupWorkload(val shape: Shape) extends Workload {
  import Workloads._

  private val tau = 0.6

  def iterate(spark: SparkSession, tr: Tracer, files: InputFiles, dir: String): Outcome = {
    val cached = mutable.Buffer[DataFrame]()
    // df cap above both boilerplate families of a twin pair, so the shared
    // prefixes stay in the sets and the exhaustive side pays df^2 for them
    val maxDf = 2L * shape.copies + 10
    val sets = tr.layer("dedup_shingles")(keep(Dedup.shingleSets(
      Dedup.cloneBoilerplate(spark.read.parquet(files.documents), shape.copies, shape.every),
      3, maxDf), cached))
    val exact = tr.layer("dedup_exact")(keep(Dedup.jaccardPairs(sets, tau), cached))
    val lshFrames = mutable.Buffer[DataFrame]()
    val lsh = tr.layer("dedup_lsh")(keep(Dedup.minhashLsh(sets, tau, 64, 16,
      onCache = lshFrames += _), cached))
    val cols = Seq("doc_a", "doc_b", "jaccard")

    new Outcome {
      lazy val items: Long = exact.count()
      lazy val digest: String = Workloads.digest(exact, cols: _*)

      def check(corrupt: Boolean): Option[String] = {
        val got = Workloads.digest(if (corrupt) corrupted(lsh) else lsh, cols: _*)
        if (digest.startsWith("0:")) Some("exhaustive join found no pairs")
        else if (got != digest) Some(s"LSH pairs digest $got != exhaustive digest $digest")
        else None
      }

      def counters: Map[String, Double] = {
        val joinRows = sets.groupBy("shingle").count()
          .agg(sum(col("count") * (col("count") - 1) / 2)).head().getDouble(0)
        val candidates = lshFrames.head.count().toDouble
        Map("dedup_exact.set_rows" -> sets.count().toDouble,
          "dedup_exact.join_rows" -> joinRows,
          "dedup_lsh.candidates" -> candidates,
          "dedup_lsh.yield" -> lsh.count() / math.max(candidates, 1.0))
      }

      def release(): Unit = (cached ++ lshFrames).foreach(_.unpersist(false))
    }
  }
}
