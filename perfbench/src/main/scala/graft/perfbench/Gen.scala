package graft.perfbench

import java.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generator. Documents draw 20-80 tokens from a 20,000-word
  * Zipf(1.07) vocabulary (word frequency proportional to rank^-1.07, the
  * usual web-text shape); a fixed share of them are exact copies or
  * near-copies (5 % of tokens replaced) of an earlier document, so both
  * dedup stages have real work. Embeddings are unit-norm 64-d vectors around 16
  * Gaussian centres. The same seed gives byte-identical inputs. */
object Gen {
  final class Zipf(v: Int, s: Double) {
    private val cum: Array[Double] = {
      val c = Array.tabulate(v)(i => math.pow(i + 1.0, -s)).scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    private val words = Array.tabulate(v)(i => f"w$i%05d")
    def pick(rnd: Random): String = {
      val i = java.util.Arrays.binarySearch(cum, rnd.nextDouble())
      words(math.min(if (i < 0) -i - 1 else i, words.length - 1))
    }
  }

  private val vocab = new Zipf(20000, 1.07)

  /** `n` documents with ids `idBase`, `idBase + 1`, ...: every
    * `exactEvery`-th is a copy of an earlier document of the sequence,
    * every `nearEvery`-th (otherwise) a near-copy of one, the rest fresh
    * text. Planting by position keeps the number of duplicates the same
    * for every seed; the seed picks the text and which documents are
    * copied. */
  def docs(rnd: Random, n: Int, idBase: Long, exactEvery: Int,
      nearEvery: Int): Array[(Long, String)] = {
    val toks = new Array[Array[String]](n)
    Array.tabulate(n) { i =>
      val t =
        if (i > 0 && i % exactEvery == exactEvery - 1) toks(rnd.nextInt(i))
        else if (i > 0 && i % nearEvery == nearEvery - 1)
          toks(rnd.nextInt(i)).map(w =>
            if (rnd.nextDouble() < 0.05) vocab.pick(rnd) else w)
        else Array.fill(20 + rnd.nextInt(61))(vocab.pick(rnd))
      toks(i) = t
      (idBase + i, t.mkString(" "))
    }
  }

  def vectors(rnd: Random, n: Int, dim: Int = 64,
      centres: Int = 16): Array[(Long, Array[Float])] = {
    val c = Array.fill(centres, dim)(rnd.nextGaussian())
    Array.tabulate(n) { i =>
      val k = c(rnd.nextInt(centres))
      val v = Array.tabulate(dim)(d => k(d) + 0.6 * rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat))
    }
  }

  /** UTF-8 bytes of the user's records: the 8-byte id plus the text. */
  def userBytes(ds: Iterable[(Long, String)]): Long =
    ds.iterator.map { case (_, t) => 8L + t.getBytes("UTF-8").length }.sum

  def docFrame(spark: SparkSession, ds: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(ds).toDF("doc_id", "text")

  /** Bytes of every regular file under `path` (0 if absent). */
  def diskBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(from); val dst = Paths.get(to)
    val s = Files.walk(src)
    try s.forEach { p =>
      val q = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q)
    } finally s.close()
  }
}
