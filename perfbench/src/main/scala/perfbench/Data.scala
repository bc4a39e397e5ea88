package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

/** What the driver knows about the generated inputs: gen.py's meta.json
  * (vocabulary, segments, embedding cluster centres and noise), from which
  * it draws request arguments and new rows with its own seeded stream. */
final class Data(dataDir: String) {
  private val meta = Json.mapper.readTree(new File(dataDir, "meta.json"))
  val vocab: IndexedSeq[String] = meta.get("vocab").asScala.map(_.asText).toIndexedSeq
  val segments: IndexedSeq[String] = meta.get("segments").asScala.map(_.asText).toIndexedSeq
  val centres: IndexedSeq[Array[Double]] =
    meta.get("centres").asScala.map(_.asScala.map(_.asDouble).toArray).toIndexedSeq
  private val noise = meta.get("noise").asDouble

  /** A vector near a seeded cluster centre: the clustered shape IVF is built for. */
  def nearVector(r: SplittableRandom): Array[Double] =
    Data.normalise(centres(r.nextInt(centres.size)).map(c => c + noise * Data.gauss(r)))

  /** Document text with the corpus's skewed word choice, plus `extra`. */
  def docText(r: SplittableRandom, extra: Seq[String] = Nil): String = {
    val words = Seq.fill(20 + r.nextInt(60)) {
      val u = r.nextDouble()
      vocab((u * u * vocab.size).toInt)
    }
    (words ++ extra).mkString(" ")
  }
}

object Data {
  def customerName(id: Long): String = f"Customer#$id%09d"

  def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def normalise(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
}
