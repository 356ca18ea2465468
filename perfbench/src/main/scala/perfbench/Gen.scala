package perfbench

import graft.ingest.Js
import scala.collection.immutable.ListMap
import scala.util.Random

/** One generated NYC-Open-Data-shaped catalog item, as the discovery
  * endpoint would list it. `key` is the generator's own index; `id`
  * is the Socrata-style four-by-four the program keys on.
  */
final case class Item(key: Int, id: String, name: String,
    description: String, category: String, tags: Seq[String],
    attribution: String, updateFrequency: String,
    columns: Seq[(String, String)], viewCount: Long, downloadCount: Long,
    rowsUpdatedAt: Long) {

  def json: String = Js.render(ListMap(
    "id" -> id, "name" -> name, "description" -> description,
    "category" -> category, "tags" -> tags, "attribution" -> attribution,
    "updateFrequency" -> updateFrequency,
    "columns" -> columns.map { case (n, t) =>
      ListMap("name" -> n, "dataTypeName" -> t) },
    "viewCount" -> viewCount, "downloadCount" -> downloadCount,
    "rowsUpdatedAt" -> rowsUpdatedAt.toString))
}

/** One collect round's input: the items offered, in arrival order,
  * and how many of them carry keys never offered before.
  */
final case class Round(items: Seq[Item], expectedNew: Int) {
  def payload: String = items.map(_.json).mkString("[", ",", "]")
}

/** Seeded generator of NYC-shaped discovery payloads. Words follow a
  * Zipf law over a synthetic vocabulary; each round offers `nNew` keys
  * never offered before plus `nRepeat` keys drawn from earlier rounds.
  * An item's content depends only on (seed, key), so a repeated key is
  * offered with identical content. Everything is a pure function of
  * the seed and the sequence of calls.
  */
final class Gen(seed: Long, vocabSize: Int = 4000) {
  import Gen._

  val vocab: IndexedSeq[String] = {
    val rng = new Random(mix(seed, -1))
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < vocabSize) {
      val syl = 2 + rng.nextInt(3)
      seen += (0 until syl).map(_ =>
        Onsets(rng.nextInt(Onsets.size)) +
          Vowels(rng.nextInt(Vowels.size))).mkString
    }
    seen.toIndexedSeq
  }

  private val cdf: Array[Double] = {
    val w = (1 to vocabSize).map(r => 1.0 / math.pow(r, ZipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  /** One Zipf-distributed vocabulary word. */
  def word(rng: Random): String = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    vocab(math.min(vocabSize - 1, if (i >= 0) i else -i - 1))
  }

  def words(rng: Random, n: Int): Seq[String] = Seq.fill(n)(word(rng))

  /** The item for generator key `k`. */
  def item(k: Int): Item = {
    val rng = new Random(mix(seed, k))
    val nameWords = words(rng, 3 + rng.nextInt(4))
    Item(
      key = k,
      id = fourByFour(k, rng),
      name = (nameWords.head.capitalize +: nameWords.tail).mkString(" "),
      description = words(rng, 12 + rng.nextInt(19)).mkString(" "),
      category = Categories(zipfIndex(rng, Categories.size)),
      tags = words(rng, 2 + rng.nextInt(3)),
      attribution = Agencies(zipfIndex(rng, Agencies.size)),
      updateFrequency = Frequencies(rng.nextInt(Frequencies.size)),
      columns = Seq.fill(3 + rng.nextInt(8))(
        word(rng) -> (if (rng.nextBoolean()) "text" else "number")),
      viewCount = rng.nextInt(200000).toLong,
      downloadCount = rng.nextInt(20000).toLong,
      rowsUpdatedAt = 1600000000L + rng.nextInt(100000000))
  }

  private var issued = 0
  private var rounds = 0

  /** Keys offered so far (= rows a correct catalog holds). */
  def issuedKeys: Int = issued

  /** The next round: `nNew` fresh keys and `nRepeat` distinct keys
    * from earlier rounds (fewer if not that many exist), shuffled.
    */
  def nextRound(nNew: Int, nRepeat: Int): Round = {
    val rng = new Random(mix(seed, 1000000000L + rounds))
    rounds += 1
    val repeats = sampleDistinct(rng, issued, math.min(nRepeat, issued))
    val fresh = issued until issued + nNew
    issued += nNew
    Round(rng.shuffle(fresh ++ repeats).map(item), nNew)
  }

  private def sampleDistinct(rng: Random, n: Int, k: Int): Seq[Int] = {
    val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (picked.size < k) picked += rng.nextInt(n)
    picked.toSeq
  }
}

object Gen {
  /** Zipf's law in its classic form: word frequency proportional to
    * 1 / rank.
    */
  val ZipfS = 1.0
  private val Onsets = IndexedSeq("b", "d", "f", "g", "k", "l", "m", "n",
    "p", "r", "s", "t", "v", "z", "ch", "st", "tr", "br")
  private val Vowels = IndexedSeq("a", "e", "i", "o", "u", "ai", "ou")
  val Categories = IndexedSeq("Transportation", "Environment", "Health",
    "Education", "Housing", "Public Safety", "City Government",
    "Business", "Recreation", "Social Services", "Technology", "Finance")
  val Agencies = IndexedSeq("Department of Transportation",
    "Department of Health", "Department of Education", "Parks",
    "Police Department", "Fire Department", "Housing Authority",
    "Department of Finance", "Sanitation", "Buildings", "Planning",
    "Environmental Protection")
  val Frequencies =
    IndexedSeq("Daily", "Weekly", "Monthly", "Annually", "As needed")

  /** SplitMix64 finalizer over (seed, salt): independent streams. */
  def mix(seed: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def zipfIndex(rng: Random, n: Int): Int = {
    val w = (1 to n).map(r => 1.0 / r)
    var u = rng.nextDouble() * w.sum
    var i = 0
    while (i < n - 1 && u >= w(i)) { u -= w(i); i += 1 }
    i
  }

  private val B36 = "0123456789abcdefghijklmnopqrstuvwxyz"

  /** Socrata-style `xxxx-xxxx`: the first half encodes the key (unique
    * up to 36^4 keys), the second half is seeded noise.
    */
  private def fourByFour(k: Int, rng: Random): String = {
    val head = (0 until 4).map(i => B36((k / math.pow(36, 3 - i).toInt) % 36))
    val tail = Seq.fill(4)(B36(rng.nextInt(36)))
    head.mkString + "-" + tail.mkString
  }
}
