package graftbench

import java.util.concurrent.{Executors, TimeUnit}

/** Ground truth computed without graft code: exact squared-L2 top-k by
  * brute force over plain arrays, and exact n-gram Jaccard. None of it is
  * timed or charged to a metric. */
object Truth {

  /** Per query, the ids of its `k` nearest rows (ties by smaller id). */
  def exactKnn(data: Inputs.Vectors, queries: Inputs.Vectors, k: Int): Array[Array[Long]] = {
    val out = new Array[Array[Long]](queries.n)
    parallel(queries.n) { q =>
      val top = new TopK(k)
      val qv = queries.data(q)
      var i = 0
      while (i < data.n) { top.offer(l2(qv, data.data(i)), data.ids(i)); i += 1 }
      out(q) = top.ids
    }
    out
  }

  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var j = 0
    while (j < a.length) { val d = a(j).toDouble - b(j); s += d * d; j += 1 }
    s
  }

  /** Mean share of each query's true top-k that the result returned. */
  def recall(truth: Array[Array[Long]], got: Map[Long, Seq[Long]], qids: Array[Long],
      rowOf: Long => Int, k: Int): Double = {
    val per = qids.map { qid =>
      val t = truth(rowOf(qid)).take(k).toSet
      got.getOrElse(qid, Nil).count(t.contains).toDouble / k
    }
    per.sum / per.length
  }

  /** Distinct character n-grams of a text (the shingle definition graft's
    * dedup documents: every substring of length n). */
  def shingles(text: String, n: Int): Set[String] =
    if (text.length < n) Set.empty else (0 to text.length - n).map(i => text.substring(i, i + n)).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a intersect b).size.toDouble / (a union b).size

  private final class TopK(k: Int) {
    private val d = Array.fill(k)(Double.PositiveInfinity)
    private val id = Array.fill(k)(Long.MaxValue)
    def offer(dist: Double, i: Long): Unit =
      if (dist < d(k - 1) || (dist == d(k - 1) && i < id(k - 1))) {
        var p = k - 1
        while (p > 0 && (d(p - 1) > dist || (d(p - 1) == dist && id(p - 1) > i))) {
          d(p) = d(p - 1); id(p) = id(p - 1); p -= 1
        }
        d(p) = dist; id(p) = i
      }
    def ids: Array[Long] = id.filter(_ != Long.MaxValue)
  }

  private def parallel(n: Int)(f: Int => Unit): Unit = {
    val threads = math.max(1, Runtime.getRuntime.availableProcessors())
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val chunk = (n + threads - 1) / threads
      val futures = (0 until threads).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = (t * chunk until math.min(n, (t + 1) * chunk)).foreach(f)
        })
      }
      futures.foreach(_.get())
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }
}
