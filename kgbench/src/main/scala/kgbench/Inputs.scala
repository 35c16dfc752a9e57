package kgbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.fixtures.Synth
import graft.model.EntityRecord
import graft.pipeline.TranscriptSource

/** Input sizes of one workload. The same seed always yields the same files. */
final case class Shape(
    nConv: Int = 0, // transcripts: 10 turns per conversation
    megaEntities: Int = 0, // 0: the ~50-entity Synth.dictionary
    nDocs: Int = 0, // documents before boilerplate cloning
    copies: Int = 0, // boilerplate clones per family root
    every: Int = 20) // every n-th document roots a family

/** Parquet inputs of one workload under `dir`. */
final case class InputFiles(dir: String) {
  def transcripts: String = s"$dir/transcripts"
  def dictionary: String = s"$dir/dictionary"
  def documents: String = s"$dir/documents"
}

/** Seeded input generator. It writes every input as parquet during set-up;
  * the engine reads only these files. */
object Inputs {

  /** Writes the inputs `shape` asks for and returns their row counts;
    * "records" is what one iteration processes: turns, or documents after
    * boilerplate cloning. */
  def generate(spark: SparkSession, shape: Shape, seed: Long, files: InputFiles): Map[String, Long] = {
    import spark.implicits._
    val sizes = Map.newBuilder[String, Long]
    if (shape.nConv > 0) {
      // the dictionary is reference data, the same for every seed, so the
      // work per iteration differs between seeds only by sampling noise
      val dict =
        if (shape.megaEntities > 0) Synth.megaDictionary(shape.megaEntities)
        else Synth.dictionary(Synth.Spec())
      val spec = Synth.Spec(nConv = shape.nConv, seed = seed)
      spark.createDataset(dict).write.mode("overwrite").parquet(files.dictionary)
      TranscriptSource.write(
        TranscriptSource.fromSeq(spark, Synth.transcripts(spec, dict)), files.transcripts)
      sizes += "entities" -> dict.size.toLong
      sizes += "turns" -> shape.nConv.toLong * spec.turnsPerConv
      sizes += "records" -> shape.nConv.toLong * spec.turnsPerConv
    }
    if (shape.nDocs > 0) {
      val docs = documents(shape.nDocs, seed)
      docs.toDF("doc_id", "text").write.mode("overwrite").parquet(files.documents)
      sizes += "documents" -> docs.size.toLong
      sizes += "records" -> (docs.size + docs.count(_._1 % shape.every == 0) * shape.copies)
    }
    sizes.result()
  }

  def dictionary(spark: SparkSession, files: InputFiles): Seq[EntityRecord] = {
    import spark.implicits._
    spark.read.parquet(files.dictionary).as[EntityRecord].collect().toSeq.sortBy(_.id)
  }

  private val vocab = Vector(
    "batch", "part", "spark", "line", "column", "order", "small", "sort", "fast",
    "value", "scan", "vector", "query", "agg", "table", "hash", "slow", "filter",
    "customer", "stream", "key", "group", "big", "merge", "join", "index", "page",
    "cache", "shard", "log", "node", "row")

  /** Documents (doc_id, text) of 30 to 60 words drawn from a 32-word
    * vocabulary, so unrelated documents share few 3-word shingles. The
    * lengths cycle with the id and only the words come from the seed, so
    * every seed yields the same number of words and shingles. Every
    * 10th document also gets a near-duplicate twin (id + 1,000,000) with
    * one appended word: 3-shingle jaccard above 0.95, so both the
    * exhaustive join and MinHash-LSH must find every twin pair. Twin ids
    * stay below the 10,000,000 stride of Dedup.cloneBoilerplate's ids. */
  def documents(n: Int, seed: Long): Seq[(Long, String)] = {
    require(n < 1000000, s"at most 999,999 documents (got $n)")
    val rnd = new Random(seed)
    val base = (0 until n).map { i =>
      (i.toLong, Seq.fill(30 + i % 31)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val twins = base.filter(_._1 % 10 == 0).map { case (id, text) =>
      (id + 1000000L, s"$text ${vocab(rnd.nextInt(vocab.size))}")
    }
    base ++ twins
  }
}
