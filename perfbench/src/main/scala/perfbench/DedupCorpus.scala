package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.operators.{Curation, Dedup}
import perfbench.Json._
import perfbench.Workload.{deleteDir, measure, step}

/** A seeded document corpus with its planted near-duplicate families. */
final case class Corpus(texts: IndexedSeq[String], families: Seq[Seq[Int]])

object Corpus {
  /** `families` near-duplicate families of 2–5 copies of a base document,
    * each copy with one word substituted; one `hot`-document boilerplate
    * family (the same text plus one distinct trailing word, so every member
    * lands in the same LSH buckets); `unique` unrelated documents. Documents
    * are shuffled; doc_id is the position. */
  def generate(seed: Long, unique: Int, families: Int, hot: Int, words: Int = 60,
      vocab: Int = 20000): Corpus = {
    val rnd = new java.util.SplittableRandom(seed)
    def word(): String = "w" + Integer.toString(rnd.nextInt(vocab), 36)
    def doc(): Array[String] = Array.fill(words)(word())
    val docs = mutable.ArrayBuffer[(String, Int)]()
    (0 until unique).foreach(_ => docs += ((doc().mkString(" "), -1)))
    (0 until families).foreach { f =>
      val base = doc()
      (0 until 2 + rnd.nextInt(4)).foreach { _ =>
        val copy = base.clone()
        copy(rnd.nextInt(words)) = word()
        docs += ((copy.mkString(" "), f))
      }
    }
    val boiler = doc().mkString(" ")
    (0 until hot).foreach(i => docs += ((s"$boiler hot$i", families)))
    val order = docs.indices.toArray
    (order.length - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    val shuffled = order.toIndexedSeq.map(docs)
    Corpus(shuffled.map(_._1),
      shuffled.indices.groupBy(i => shuffled(i)._2).collect {
        case (f, ids) if f >= 0 => ids.sorted.toSeq
      }.toSeq)
  }

  /** Word n-gram set of a text, tokenized like `Dedup.tokens`. */
  def shingles(text: String, n: Int): Set[String] = {
    val ts = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (ts.length < n) Set.empty else ts.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val common = a.count(b.contains)
    common.toDouble / (a.size + b.size - common)
  }
}

/** MinHash-LSH near-duplicate detection then cluster consolidation over a
  * single-file parquet corpus. Shares no code with the climate workloads. */
final class DedupCorpus(spark: SparkSession, seed: Long, dir: String,
    unique: Int = DedupCorpus.Unique, families: Int = DedupCorpus.Families,
    hot: Int = DedupCorpus.Hot) extends Workload {
  import DedupCorpus._

  private var corpus: Corpus = _
  private var path: String = _
  private lazy val sets = corpus.texts.map(Corpus.shingles(_, N))
  private var candidates = 0L
  private var verified = 0L
  private var plantedPairs = 0L

  def itemsPerOp: Long = corpus.texts.length.toLong

  def setup(rep: Int): Unit = {
    corpus = Corpus.generate(seed, unique, families, hot)
    path = s"$dir/corpus-$rep"
    deleteDir(path)
    import spark.implicits._
    corpus.texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .coalesce(1).write.parquet(path)
  }

  type Out = DedupCorpus.Out

  def pass(k: Int, tr: Option[Tracer]): (Seq[Op], Out) = {
    val ((pairs, clusters), op) = measure {
      val docs = spark.read.parquet(path)
      val pairs = step(tr, "dedup.lsh")(Dedup.minhashLsh(docs, N, Hashes, RowsPerBand, MinJaccard))
      (pairs, step(tr, "dedup.cluster")(Curation.dedupClusters(docs, pairs).collect()))
    }
    (Seq(op), DedupCorpus.Out(pairs.collect(), clusters))
  }

  /** LSH candidate pairs by the operator's definition — documents sharing
    * any band of their MinHash signature, sig[s] = min md5(s|shingle) —
    * computed here on the driver for traced runs, since the fused operator
    * does not expose its candidate count. */
  override def reference(tr: Option[Tracer]): Option[String] = if (tr.isEmpty) None else {
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val hexFormat = java.util.HexFormat.of()
    def hex(s: String): String = hexFormat.formatHex(md5.digest(s.getBytes("UTF-8")))
    val buckets = mutable.HashMap[(Int, String), mutable.ArrayBuffer[Int]]()
    sets.zipWithIndex.filter(_._1.nonEmpty).foreach { case (set, d) =>
      val sig = (0 until Hashes).map(h => set.iterator.map(x => hex(s"$h|$x")).min)
      sig.grouped(RowsPerBand).zipWithIndex.foreach { case (band, b) =>
        buckets.getOrElseUpdate((b, band.mkString("|")), mutable.ArrayBuffer()) += d
      }
    }
    candidates = buckets.values.filter(_.size > 1).flatMap { ds =>
      for (i <- ds.indices; j <- i + 1 until ds.size) yield (ds(i), ds(j))
    }.toSet.size.toLong
    None
  }

  /** Every planted pair at or above the Jaccard threshold is found, every
    * reported pair really is at or above it, and each document's cluster is
    * its connected component under the reported pairs, headed by the
    * smallest doc_id. */
  def check(o: Out): Option[String] = {
    val Out(pairs, clusters) = o
    val found = pairs.map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getDouble(2)).toMap
    val planted = for {
      fam <- corpus.families; i <- fam.indices; j <- i + 1 until fam.size
      (a, b) = (fam(i), fam(j))
      if Corpus.jaccard(sets(a), sets(b)) >= MinJaccard
    } yield (a, b)
    val missed = planted.count(p => !found.contains(p))
    val wrong = found.count { case ((a, b), jac) =>
      val exact = Corpus.jaccard(sets(a), sets(b))
      exact < MinJaccard || math.abs(exact - jac) > 1e-6
    }
    val parent = Array.tabulate(corpus.texts.length)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    found.keys.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val size = corpus.texts.indices.groupBy(find).map { case (r, m) => r -> m.size.toLong }
    val badClusters = clusters.count { r =>
      val d = r.getLong(0).toInt
      r.getLong(1) != find(d) || r.getLong(2) != size(find(d)) || r.getBoolean(3) != (find(d) == d)
    }
    plantedPairs = planted.size
    verified = found.size
    if (planted.isEmpty) Some("no planted pairs above the threshold")
    else if (missed > 0) Some(s"missed $missed of ${planted.size} planted pairs")
    else if (wrong > 0) Some(s"$wrong reported pairs are below the threshold or misreport Jaccard")
    else if (clusters.length != corpus.texts.length)
      Some(s"${clusters.length} cluster rows for ${corpus.texts.length} documents")
    else if (badClusters > 0) Some(s"$badClusters documents in the wrong cluster")
    else None
  }

  def info: Seq[(String, J)] = Seq(
    "docs" -> Int64(corpus.texts.length), "unique" -> Int64(unique),
    "families" -> Int64(families), "hot" -> Int64(hot), "ops_per_pass" -> Int64(1),
    "shingle_n" -> Int64(N), "hashes" -> Int64(Hashes), "rows_per_band" -> Int64(RowsPerBand),
    "min_jaccard" -> Num(MinJaccard), "planted_pairs" -> Int64(plantedPairs),
    "verified_pairs" -> Int64(verified), "candidate_pairs" -> Int64(candidates))
}

object DedupCorpus {
  /** Verified pairs (doc_a, doc_b, jaccard) and cluster rows (doc_id,
    * canon_id, cluster_size, is_canonical). */
  final case class Out(pairs: Array[Row], clusters: Array[Row])

  val Unique = 600
  val Families = 100
  val Hot = 50
  val N = 3
  val Hashes = 32
  val RowsPerBand = 2
  val MinJaccard = 0.5
}
