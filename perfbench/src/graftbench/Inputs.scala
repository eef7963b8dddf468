package graftbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generators. Everything here is plain Scala: the inputs
  * graft receives depend on the seed alone, and the hashes let the
  * self-test prove it. */
object Inputs {

  final case class Vectors(ids: Array[Long], data: Array[Array[Float]]) {
    def n: Int = data.length
    def dim: Int = if (data.isEmpty) 0 else data(0).length
    def slice(from: Int, until: Int): Vectors =
      Vectors(ids.slice(from, until), data.slice(from, until))
  }

  /** Streams of `dim`-float vectors from Gaussian clusters in a
    * `Latent`-dimensional space, mapped into `dim` dimensions by a fixed
    * random projection plus a little isotropic noise. Real embedding
    * corpora look like this: low intrinsic dimension, clusters that
    * overlap, so that both cell probing and graph walks can find the
    * neighbours. Row i of a draw has id `idBase + i`. */
  final class Clusters(seed: Long, dim: Int, nCenters: Int) {
    private val Latent = 8
    private val rnd = new SplittableRandom(seed)
    private val centers = Array.fill(nCenters, Latent)(rnd.nextDouble() * 2 - 1)
    private val spread = Array.fill(nCenters)(0.2 + 0.2 * rnd.nextDouble())
    private val proj = Array.fill(dim, Latent)(gaussian() / math.sqrt(Latent))

    /** The next `n` points; successive calls continue the same stream. */
    def draw(n: Int, idBase: Long): Vectors = {
      val data = Array.tabulate(n) { _ =>
        val c = rnd.nextInt(nCenters)
        val z = Array.tabulate(Latent)(l => centers(c)(l) + spread(c) * gaussian())
        Array.tabulate(dim) { j =>
          var x = 0.02 * gaussian()
          var l = 0
          while (l < Latent) { x += proj(j)(l) * z(l); l += 1 }
          x.toFloat
        }
      }
      Vectors(Array.tabulate(n)(i => idBase + i), data)
    }

    private def gaussian(): Double = {
      // Box-Muller; SplittableRandom has no nextGaussian on every JDK
      val u = math.max(rnd.nextDouble(), 1e-300)
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
    }
  }

  /** A corpus for near-duplicate detection.
    *
    *  - `clusters`: groups of ids that are copies of one source document
    *    with a planted word-substitution rate (one rate per group, cycling
    *    through `editRates`); rate 0 makes exact duplicates.
    *  - boilerplate: a fixed footer appended to a share of the documents,
    *    so some shingles occur in very many of them (the document-frequency
    *    cut and the LSH bucket cap have something to cut).
    */
  final case class Corpus(ids: Array[Long], texts: Array[String], clusters: Array[Array[Long]])

  val EditRates: Array[Double] = Array(0.0, 0.02, 0.04, 0.08)

  def corpus(seed: Long, nDocs: Int, wordsPerDoc: Int, clusterShare: Double,
      clusterSize: Int, boilerShare: Double): Corpus = {
    val rnd = new SplittableRandom(seed)
    val vocab = Array.fill(4000) {
      val len = 3 + rnd.nextInt(7)
      new String(Array.fill(len)(('a' + rnd.nextInt(26)).toChar))
    }
    val footer = Array.fill(24)(vocab(rnd.nextInt(200))).mkString(" ")
    def words(): Array[String] = Array.fill(wordsPerDoc)(vocab(rnd.nextInt(vocab.length)))
    def edit(src: Array[String], rate: Double): Array[String] =
      src.map(w => if (rnd.nextDouble() < rate) vocab(rnd.nextInt(vocab.length)) else w)
    val texts = new Array[String](nDocs)
    val clusters = Array.newBuilder[Array[Long]]
    val nClusters = (nDocs * clusterShare / clusterSize).toInt
    var i = 0
    var g = 0
    while (i < nDocs) {
      val boiler = rnd.nextDouble() < boilerShare
      if (g < nClusters && i + clusterSize <= nDocs) {
        val src = words()
        val rate = EditRates(g % EditRates.length)
        val members = Array.tabulate(clusterSize) { m =>
          val w = if (m == 0) src else edit(src, rate)
          texts(i + m) = w.mkString(" ") + (if (boiler) " " + footer else "")
          (i + m).toLong
        }
        clusters += members
        i += clusterSize
        g += 1
      } else {
        texts(i) = words().mkString(" ") + (if (boiler) " " + footer else "")
        i += 1
      }
    }
    Corpus(Array.tabulate(nDocs)(_.toLong), texts, clusters.result())
  }

  def hash(v: Vectors): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8 + 4 * v.dim)
    v.ids.indices.foreach { i =>
      buf.clear(); buf.putLong(v.ids(i)); v.data(i).foreach(f => buf.putFloat(f))
      md.update(buf.array(), 0, buf.position())
    }
    hex(md.digest())
  }

  def hash(c: Corpus): String = {
    val md = MessageDigest.getInstance("SHA-256")
    c.texts.foreach { t => md.update(t.getBytes("UTF-8")); md.update(0.toByte) }
    hex(md.digest())
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString
}
