package perfbench

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{MinHash, Pq}

/** Per-item cost of the `kernel` layer, timed by calling the public kernel
  * functions directly on fixed batches of the base documents and vectors. */
object Kernels {
  final case class Times(shingleNs: Double, minhashNs: Double, pqAdcNs: Double)

  private val Rounds = 7
  private val M = 16
  private val K = 16

  /** Median over rounds of the nanoseconds per item of `body`. */
  private def perItem(items: Int)(body: => Long): (Double, Long) = {
    var sink = 0L
    val ns = (1 to Rounds).map { _ =>
      val t0 = System.nanoTime()
      sink += body
      (System.nanoTime() - t0).toDouble / items
    }
    (Stats.median(ns), sink)
  }

  def measure(docs: Seq[String], vecs: Seq[Array[Double]]): Times = {
    val texts = docs.map(UTF8String.fromString).toArray
    val (shingle, s1) = perItem(texts.length) {
      texts.foldLeft(0L)((n, t) => n + MinHash.shingleHashes(t).asInstanceOf[ArrayData].numElements())
    }
    val hashes = texts.map(t => MinHash.shingleHashes(t).asInstanceOf[ArrayData])
    val (minhash, s2) = perItem(hashes.length) {
      hashes.foldLeft(0L)((n, h) => n + MinHash.bandKeys(h).asInstanceOf[ArrayData].getLong(0))
    }
    val sub = vecs.head.length / M
    val cb = new GenericArrayData(
      (for (j <- 0 until M; c <- 0 until K; i <- 0 until sub) yield vecs(c)(j * sub + i)).toArray)
    val codes = vecs.map(v => Pq.encode(new GenericArrayData(v), cb, M, K)).toArray
    val lut = Pq.lut(new GenericArrayData(vecs.head), cb, M, K)
    val (adc, s3) = perItem(codes.length) {
      codes.foldLeft(0L)((n, c) => n + Pq.adc(c, lut, K).toLong)
    }
    // the sums keep the JIT from discarding the kernel calls
    if (s1 + s2 + s3 == 42L) System.err.println("")
    Times(shingle, minhash, adc)
  }
}
