package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.functions._

/** MinHash near-duplicate detection, n-gram dedup and PQ top-k over seeded
  * samples of the document and embedding tables, through the judged query
  * entry points (`graft.SparkEntry.queries`). Without it the `kernel` layer
  * would go unmeasured; the store and planning layers do almost nothing
  * here. */
final class LlmDedup(ctx: Ctx) extends Workload {
  import LlmDedup._
  import ctx.spark.implicits._

  val name = "llm_dedup"
  val warmupOps = 0
  val opsPerSecond = 1.5
  val storeDirs: Seq[String] = Nil

  private val spark = ctx.spark
  private val rnd = new SplittableRandom(ctx.seed)

  /** Each sample: the document and vector ids it holds. */
  private val samples: Seq[(Set[Long], Set[Long])] = Seq.fill(Samples) {
    val docs = pickIds(Base.Docs, SampleDocs, Set.empty)
    // the PQ query builds its codebook from vectors 0..15 and queries 0..9
    val vecs = pickIds(Base.Vecs, SampleVecs, (0L until 16L).toSet)
    (docs, vecs)
  }

  private def pickIds(n: Int, k: Int, must: Set[Long]): Set[Long] = {
    val s = scala.collection.mutable.LinkedHashSet.empty[Long] ++ must
    while (s.size < k) s += rnd.nextInt(n).toLong
    s.toSet
  }

  private val kinds = Workload.mix(1, 1, 1)
  private var expected: Seq[Map[String, Seq[String]]] = Nil
  private var rep = 0
  private var dirs: Seq[String] = Nil

  def reference(): Unit = {
    val docs = ctx.parquet("documents").select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val vecs = ctx.parquet("embeddings").select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    expected = samples.map { case (ds, vs) =>
      val d = ds.toSeq.sorted.map(i => i -> docs(i))
      Map(
        "llm_dedup_minhash" -> Reference.shinglePairs(d),
        "llm_dedup_ngram" -> Reference.gramPairs(d),
        "llm_ann_pq" -> Reference.pqRatios(vs.toSeq.sorted.map(i => i -> vecs(i))))
    }
  }

  def clean(): Unit = Disk.deleteRecursively(ctx.work.resolve("llm"))

  def setup(): Unit = {
    // a fresh directory per setup: the query entry points memoize each
    // (session, dir, table) DataFrame, whose file listing must stay valid
    rep += 1
    val documents = ctx.parquet("documents")
    val embeddings = ctx.parquet("embeddings")
    dirs = samples.zipWithIndex.map { case ((ds, vs), i) =>
      val d = ctx.work.resolve(s"llm/rep$rep/s$i").toString
      documents.filter($"doc_id".isin(ds.toSeq: _*)).coalesce(1).write.parquet(s"$d/documents.parquet")
      embeddings.filter($"vec_id".isin(vs.toSeq: _*)).coalesce(1).write.parquet(s"$d/embeddings.parquet")
      d
    }
  }

  def next(): Op = {
    val q = Seq("llm_dedup_minhash", "llm_dedup_ngram", "llm_ann_pq")(kinds.next())
    val i = rnd.nextInt(Samples)
    val f = graft.SparkEntry.queries(q)
    val (docs, vecs) = q match {
      case "llm_dedup_minhash" => (SampleDocs.toLong, 0L)
      case "llm_ann_pq" => (0L, 10L * (SampleVecs - 1))
      case _ => (0L, 0L)
    }
    Read(q, () => f(spark, dirs(i)), () => expected(i)(q), docs, vecs)
  }
}

object LlmDedup {
  val Samples = 2
  val SampleDocs = 500
  val SampleVecs = 400
}

/** Exact answers of the three dedup queries, computed in plain Scala:
  * Jaccard on distinct word 5-shingles (>= 0.8) and on distinct char
  * 4-grams (>= 0.9) over every pair that can reach it, and the PQ top-5
  * recall ratio recomputed from its definition. */
object Reference {
  private def line(a: Long, b: Long, common: Int, na: Int, nb: Int): String =
    Check.line(math.min(a, b), math.max(a, b), common.toDouble / (na + nb - common))

  def shingles(t: String): Set[String] = {
    val w = t.split(" ", -1)
    if (w.length < 5) Set.empty else w.sliding(5).map(_.mkString(" ")).toSet
  }

  def grams(t: String): Set[String] =
    if (t.length < 4) Set.empty else t.sliding(4).toSet

  /** Shingles are rare, so an inverted index proposes the few pairs that
    * share any. */
  def shinglePairs(docs: Seq[(Long, String)]): Seq[String] = {
    val s = docs.map { case (id, t) => id -> shingles(t) }.filter(_._2.nonEmpty).toArray
    val post = scala.collection.mutable.HashMap.empty[String, List[Int]]
    s.indices.foreach(i => s(i)._2.foreach(g => post(g) = i :: post.getOrElse(g, Nil)))
    s.indices.flatMap { i =>
      val cand = scala.collection.mutable.HashMap.empty[Int, Int]
      s(i)._2.foreach(g => post(g).foreach(j => if (j > i) cand(j) = cand.getOrElse(j, 0) + 1))
      cand.toSeq.collect { case (j, c) if c.toDouble / (s(i)._2.size + s(j)._2.size - c) >= 0.8 =>
        line(s(i)._1, s(j)._1, c, s(i)._2.size, s(j)._2.size)
      }
    }
  }

  /** Char grams are shared by most documents, so every pair whose sizes
    * allow Jaccard >= 0.9 is intersected as sorted id arrays. */
  def gramPairs(docs: Seq[(Long, String)]): Seq[String] = {
    val ids = scala.collection.mutable.HashMap.empty[String, Int]
    val s = docs.map { case (id, t) =>
      id -> grams(t).toArray.map(g => ids.getOrElseUpdate(g, ids.size)).sorted
    }.filter(_._2.nonEmpty).sortBy(_._2.length).toArray
    val out = Seq.newBuilder[String]
    s.indices.foreach { i =>
      val a = s(i)._2
      var j = i + 1
      // sorted by size: once b is too large for a, so is every later one
      while (j < s.length && 9L * s(j)._2.length <= 10L * a.length) {
        val b = s(j)._2
        var (x, y, c) = (0, 0, 0)
        while (x < a.length && y < b.length)
          if (a(x) == b(y)) { c += 1; x += 1; y += 1 } else if (a(x) < b(y)) x += 1 else y += 1
        if (19L * c >= 9L * (a.length + b.length)) out += line(s(i)._1, s(j)._1, c, a.length, b.length)
        j += 1
      }
    }
    out.result()
  }

  /** (qid, ratio_ok) for the queries 0..9 of `llm_ann_pq`. */
  def pqRatios(vecs: Seq[(Long, Array[Double])]): Seq[String] = {
    val M = 16; val K = 16
    val byId = vecs.toMap
    def norm(v: Array[Double]) = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
    def dot(a: Array[Double], b: Array[Double]) = a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    val d = vecs.head._2.length
    val sub = d / M
    val seeds = (0 until K).map(c => byId(c.toLong))
    val cb = for (j <- 0 until M; c <- 0 until K; i <- 0 until sub) yield seeds(c)(j * sub + i)
    def encode(v: Array[Double]): Array[Int] = Array.tabulate(M) { j =>
      (0 until K).minBy { c =>
        (0 until sub).foldLeft(0.0) { (s, i) =>
          val diff = v(j * sub + i) - cb((j * K + c) * sub + i); s + diff * diff }
      }
    }
    def lut(q: Array[Double]): Array[Double] = Array.tabulate(M * K) { jc =>
      val (j, c) = (jc / K, jc % K)
      (0 until sub).foldLeft(0.0)((s, i) => s + q(j * sub + i) * cb((j * K + c) * sub + i))
    }
    val norms = vecs.map { case (id, v) => id -> norm(v) }.toMap
    val codes = vecs.map { case (id, v) => id -> encode(v) }.toMap
    def top5(q: Long, ids: Seq[Long]): Double = {
      val qv = byId(q)
      val cos = ids.map(v => (dot(qv, byId(v)) / (norms(q) * norms(v)), v))
        .sortBy { case (c, v) => (-c, v) }.take(5)
      cos.map(_._1).sum / cos.size
    }
    (0L until 10L).filter(byId.contains).map { q =>
      val l = lut(byId(q))
      val others = vecs.map(_._1).filter(_ != q)
      val cand = others.map { v =>
        (codes(v).indices.foldLeft(0.0)((s, j) => s + l(j * K + codes(v)(j))) / (norms(q) * norms(v)), v)
      }.sortBy { case (a, v) => (-a, v) }.take(64).map(_._2)
      Check.line(q, top5(q, cand) / top5(q, others) >= 0.6)
    }
  }
}
