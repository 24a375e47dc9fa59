package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import scala.util.Random

/** Seeded input generators. The same (seed, size) always yields the same
  * records; the records stay in memory for the output checks, and the
  * JSONL files the program reads are cached on disk under the work
  * directory keyed by (kind, seed, size). */
object Gen {

  final case class Item(sku: String, qty: Long, price: Long, tags: Vector[String])

  /** One order document of the jq workloads (about 420 bytes of JSON). */
  final case class Order(id: Long, name: String, country: String, tier: String, age: Long,
                         items: Vector[Item], gift: Boolean, promo: Boolean, express: Boolean,
                         source: String, ts: Long) {
    def json: String = {
      val sb = new StringBuilder(512)
      sb ++= s"""{"id":$id,"user":{"name":"$name","country":"$country","tier":"$tier","age":$age},"items":["""
      var i = 0
      while (i < items.length) {
        val it = items(i)
        if (i > 0) sb += ','
        sb ++= s"""{"sku":"${it.sku}","qty":${it.qty},"price":${it.price},"tags":["""
        sb ++= it.tags.map(t => "\"" + t + "\"").mkString(",")
        sb ++= "]}"
        i += 1
      }
      sb ++= s"""],"meta":{"flags":{"gift":$gift,"promo":$promo,"express":$express},"source":"$source","ts":$ts}}"""
      sb.toString
    }
  }

  val Countries: Vector[String] = Vector("DE", "FR", "US", "JP", "BR", "IN", "GB", "NG")
  val Tiers: Vector[String] = Vector("bronze", "silver", "gold", "platinum")
  val Sources: Vector[String] = Vector("web", "app", "store", "phone")
  val Tags: Vector[String] = Vector("red", "blue", "green", "sale", "new", "eco",
    "bulk", "gift", "fragile", "cold", "heavy", "promo")

  def orders(seed: Long, n: Int): Vector[Order] = {
    val r = new Random(seed)
    def pick[T](v: Vector[T]): T = v(r.nextInt(v.length))
    Vector.tabulate(n) { i =>
      val items = Vector.fill(1 + r.nextInt(8)) {
        Item(f"SKU-${r.nextInt(100000)}%05d", 1L + r.nextInt(9), 100L + r.nextInt(99900),
          Vector.fill(r.nextInt(4))(pick(Tags)))
      }
      Order(i.toLong, "u" + (r.alphanumeric.take(7).mkString.toLowerCase), pick(Countries),
        pick(Tiers), 18L + r.nextInt(60), items, r.nextBoolean(), r.nextBoolean(),
        r.nextBoolean(), pick(Sources), 1690000000L + r.nextInt(10000000))
    }
  }

  /** Near-duplicate corpus: `n` docs of `words` words. A tenth of the docs
    * sit in chains of `chainLen` docs, each one word edit (at a fresh
    * position) from its predecessor; a twentieth are exact copies of
    * unchained docs, with higher ids than their originals. */
  final case class Corpus(texts: Vector[String], chains: Vector[Vector[Long]])

  def corpus(seed: Long, n: Int, words: Int = 80, chainLen: Int = 16): Corpus = {
    val r = new Random(seed)
    val vocab = Vector.fill(4000)(r.alphanumeric.filter(_.isLetter).take(3 + r.nextInt(7)).mkString.toLowerCase)
    def fresh(): Array[String] = Array.fill(words)(vocab(r.nextInt(vocab.length)))
    val nChains = math.max(1, n / 10 / chainLen)
    val nCopies = n / 20
    val nPlain = n - nChains * chainLen - nCopies
    val texts = Vector.newBuilder[String]
    val chains = Vector.newBuilder[Vector[Long]]
    var id = 0L
    for (_ <- 0 until nChains) {
      val doc = fresh()
      val positions = r.shuffle((0 until words).toVector)
      val ids = Vector.newBuilder[Long]
      for (step <- 0 until chainLen) {
        if (step > 0) {
          val p = positions(step - 1)
          var w = doc(p)
          while (w == doc(p)) w = vocab(r.nextInt(vocab.length))
          doc(p) = w
        }
        texts += doc.mkString(" ")
        ids += id
        id += 1
      }
      chains += ids.result()
    }
    val plainStart = id
    for (_ <- 0 until nPlain) texts += fresh().mkString(" ")
    val base = texts.result()
    val copies = Vector.fill(nCopies)(base((plainStart + r.nextInt(nPlain)).toInt))
    Corpus(base ++ copies, chains.result())
  }

  def corpusLine(id: Long, text: String): String = s"""{"id":$id,"text":"$text"}"""

  /** The interactive table: the typed order as a STRUCT column and the
    * same document as JSON text. */
  def tableLine(o: Order): String = {
    val j = o.json
    s"""{"id":${o.id},"doc":$j,"raw":"${j.replace("\"", "\\\"")}"}"""
  }

  /** Cached inputs kept per kind; the least recently used go first. */
  private val KeepCached = 4

  /** Writes `lines` as `files` JSONL files under `dir` unless a complete
    * copy is already cached there. */
  def cached(dir: Path, files: Int)(lines: => Iterator[String]): Unit = {
    val done = dir.resolve("_DONE")
    if (Files.exists(done)) Files.setLastModifiedTime(done, FileTime.fromMillis(System.currentTimeMillis()))
    else {
      Files.createDirectories(dir.getParent)
      val tmp = Files.createTempDirectory(dir.getParent, dir.getFileName.toString + ".tmp")
      val writers = Array.tabulate(files)(i =>
        Files.newBufferedWriter(tmp.resolve(f"part-$i%05d.jsonl"), UTF_8))
      var k = 0
      lines.foreach { l => val w = writers(k % files); w.write(l); w.write('\n'); k += 1 }
      writers.foreach(_.close())
      Files.createFile(tmp.resolve("_DONE"))
      deleteTree(dir)
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      val siblings = Files.list(dir.getParent).toArray.map(_.asInstanceOf[Path])
        .filter(p => Files.exists(p.resolve("_DONE")))
        .sortBy(p => -Files.getLastModifiedTime(p.resolve("_DONE")).toMillis)
      siblings.drop(KeepCached).foreach(deleteTree)
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }
}
