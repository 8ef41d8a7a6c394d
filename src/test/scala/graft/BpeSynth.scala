package graft

/** A deterministic Heaps-scale BPE word table: `n` distinct words
  * (splitmix64-lettered, lengths 3-12) under a Zipf(1) frequency law, the
  * shape a large corpus' word table has. No RNG state: word i is a pure
  * function of i, so every run sees the identical table.
  */
object BpeSynth {

  /** splitmix64 — the standard 64-bit mix, public-domain constant set. */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def synthTable(n: Int): Array[(Long, Array[String])] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    val out = Array.newBuilder[(Long, Array[String])]
    var i = 0L
    while (seen.size < n) {
      val h = mix(i)
      val len = 3 + (java.lang.Long.remainderUnsigned(h, 10L)).toInt
      val sb = new StringBuilder
      var j = 0
      var hh = h
      while (j < len) {
        hh = mix(hh)
        sb.append(('a' + java.lang.Long.remainderUnsigned(hh, 26L).toInt).toChar)
        j += 1
      }
      val word = sb.toString
      if (seen.add(word)) {
        // Zipf(1): rank r gets freq N/r — the long-tail law word tables obey
        val rank = seen.size.toLong
        out += ((math.max(1L, n.toLong / rank), word.map(_.toString).toArray))
      }
      i += 1
    }
    out.result()
  }
}
