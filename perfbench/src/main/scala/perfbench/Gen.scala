package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.util.Random

/** Zipf sampler over ranks 0 until n (rank 0 is the most frequent). */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def sample(rng: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** Seeded input generator. Everything the program sees is derived from
  * the seed: the vocabulary, document lengths, file kinds, planted
  * duplicates and the ingest delta stream. Word frequencies follow a
  * Zipf law so queries hit both long (head) and short (tail) posting
  * lists; document lengths are log-normal so a document spans one to
  * many 800-char chunks.
  */
final class Gen(seed: Long) {
  val vocab: Array[String] = {
    val rng = new Random(seed ^ 0x5eedL)
    val syl = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
      "do", "gi", "fu", "be", "ch", "an", "or", "el", "is", "um", "qu", "th")
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < Gen.VocabSize) {
      val n = 2 + rng.nextInt(3)
      seen += (0 until n).map(_ => syl(rng.nextInt(syl.length))).mkString
    }
    seen.toArray
  }
  val zipf = new Zipf(vocab.length, 1.05)

  def rng(stream: Long): Random = new Random(seed * 1000003L + stream)

  def word(r: Random): String = vocab(zipf.sample(r))

  def words(r: Random, n: Int): String =
    Iterator.fill(n)(word(r)).mkString(" ")

  /** Log-normal document length in characters, median ~1.2k, clamped. */
  def docChars(r: Random): Int =
    math.max(150, math.min(9000, math.exp(math.log(1200) + 0.8 * r.nextGaussian()).toInt))

  /** Roughly `chars` characters of sentences separated into paragraphs. */
  def prose(r: Random, chars: Int): String = {
    val sb = new StringBuilder
    while (sb.length < chars) {
      sb ++= words(r, 6 + r.nextInt(10)).capitalize
      sb ++= (if (r.nextInt(5) == 0) ".\n\n" else ". ")
    }
    sb.toString.trim
  }

  /** The body of one dropzone file of the given kind, and the document
    * paths it routes to (a chat export yields one document per
    * conversation under a virtual path).
    */
  def file(kind: String, id: Int, r: Random): (String, Array[Byte], Seq[String]) = {
    val chars = docChars(r)
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
    kind match {
      case "txt" =>
        val p = f"notes/doc$id%05d.txt"
        (p, prose(r, chars).getBytes(UTF_8), Seq(p))
      case "md" =>
        val p = f"wiki/page$id%05d.md"
        val body = s"# ${words(r, 4)}\n\n" + prose(r, chars) +
          "\n\n" + (1 to 3).map(_ => s"- ${words(r, 5)}").mkString("\n")
        (p, body.getBytes(UTF_8), Seq(p))
      case "csv" =>
        val p = f"tables/sheet$id%05d.csv"
        val rows = math.max(3, chars / 60)
        val body = "item,label,notes\n" + (1 to rows).map { i =>
          s"$i,${word(r)},${words(r, 6)}"
        }.mkString("\n") + "\n"
        (p, body.getBytes(UTF_8), Seq(p))
      case "json" =>
        val p = f"records/rec$id%05d.json"
        val secs = 1 + chars / 500
        val sections = (1 to secs).map { _ =>
          s"""{"heading":"${esc(words(r, 3))}","body":"${esc(prose(r, 450))}","tags":["${word(r)}","${word(r)}"]}"""
        }.mkString(",")
        val body = s"""{"title":"${esc(words(r, 5))}","meta":{"author":{"name":"${word(r)}","team":"${word(r)}"},"rank":${r.nextInt(100)}},"sections":[$sections]}"""
        (p, body.getBytes(UTF_8), Seq(p))
      case "chat" =>
        val p = f"exports/chat$id%05d.json"
        val nConv = 1 + id % 3 // fixed per file: a rewrite keeps its conversations
        val convIds = (0 until nConv).map(c => f"conv-$id%05d-$c")
        val convs = convIds.map { cid =>
          val t0 = 1700000000L + r.nextInt(10000000)
          val msgs = (0 until 2 + r.nextInt(5)).map { m =>
            val role = if (m % 2 == 0) "user" else "assistant"
            val text = esc(prose(r, math.max(80, chars / 6)))
            s""""m$m":{"message":{"author":{"role":"$role"},"content":{"parts":["$text"]},"create_time":${t0 + m * 60}}}"""
          }.mkString(",")
          s"""{"id":"$cid","title":"${esc(words(r, 3))}","create_time":$t0,"update_time":${t0 + 3600},"mapping":{$msgs}}"""
        }
        (p, convs.mkString("[", ",", "]").getBytes(UTF_8),
          convIds.map(c => s"chatgpt/$c"))
      case "html" =>
        val p = f"site/page$id%05d.html"
        val paras = prose(r, chars).split("\n\n").map(t => s"<p>$t</p>").mkString("\n")
        val body = s"<html><head><title>${words(r, 3)}</title></head><body>" +
          s"<h1>${words(r, 4)}</h1>\n$paras\n</body></html>"
        (p, body.getBytes(UTF_8), Seq(p))
    }
  }

  /** File kind by a fixed mix: mostly plain text and markdown, with csv,
    * nested json, chat exports and html in smaller shares.
    */
  def kind(r: Random): String = {
    val x = r.nextInt(100)
    if (x < 30) "txt" else if (x < 50) "md" else if (x < 62) "csv"
    else if (x < 77) "json" else if (x < 87) "chat" else "html"
  }
}

object Gen {
  val VocabSize = 6000

  def writeFile(root: Path, rel: String, bytes: Array[Byte]): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }
}

/** A seeded dropzone, written file by file. */
final class DropzoneModel(gen: Gen, root: Path) {
  private var nextId = 0
  private var bytes = 0L

  def add(r: Random): String = {
    val (p, b, _) = gen.file(gen.kind(r), nextId, r)
    nextId += 1
    bytes += b.length
    Gen.writeFile(root, p, b)
    p
  }

  def sourceBytes: Long = bytes
}
