package graft.phonetic

/** NYSIIS (New York State Identification and Intelligence System), commons-
  * codec semantics (ref: /root/reference/src/nysiis.rs:131-221; transcode
  * :80-120).
  *
  * `strict = true` (default) caps the code at 6 chars. The transcode step
  * writes its output back into the char buffer (EV→AF, vowels→A, Q→G, Z→S,
  * M→N, KN→NN, K→C, SCH→SSS, PH→FF, silent H, W→previous vowel) and dedupes
  * against the previous buffer char.
  */
final case class Nysiis(strict: Boolean) extends PhoneticEncoder {

  import Nysiis._

  override def encode(value: String): String = {
    var tmp = SoundexUtils.soundexClean(value)
    if (tmp.isEmpty) return tmp

    // Prefix rewrites (ref: nysiis.rs:139-153)
    if (tmp.startsWith("MAC")) tmp = "MCC" + tmp.substring(3)
    if (tmp.startsWith("KN")) tmp = "NN" + tmp.substring(2)
    if (tmp.startsWith("K")) tmp = "C" + tmp.substring(1)
    if (tmp.startsWith("PH") || tmp.startsWith("PF"))
      tmp = "FF" + tmp.substring(2)
    if (tmp.startsWith("SCH")) tmp = "SSS" + tmp.substring(3)

    // Suffix rewrites (ref: nysiis.rs:155-165)
    if (tmp.endsWith("EE") || tmp.endsWith("IE"))
      tmp = tmp.substring(0, tmp.length - 2) + "Y"
    if (tmp.endsWith("DT") || tmp.endsWith("RT") || tmp.endsWith("RD") ||
        tmp.endsWith("NT") || tmp.endsWith("ND"))
      tmp = tmp.substring(0, tmp.length - 2) + "D"

    val chars = tmp.toCharArray
    val len = chars.length
    val key = new java.lang.StringBuilder(len)
    key.append(chars(0))

    var index = 1
    while (index < len) {
      transcodeInPlace(chars, index)
      if (chars(index - 1) != chars(index)) key.append(chars(index))
      index += 1
    }

    var result = key.toString
    if (result.length > 1) {
      if (result.endsWith("S")) result = result.substring(0, result.length - 1)
      if (result.length > 2 && result.endsWith("AY"))
        result = result.substring(0, result.length - 2) +
          result.substring(result.length - 1)
      if (result.endsWith("A")) result = result.substring(0, result.length - 1)
    }

    if (strict) result.substring(0, math.min(result.length, TrueLength))
    else result
  }
}

object Nysiis {
  private val TrueLength = 6

  /** No char: a position past the end (a cleaned input never holds
    * U+FFFF).
    */
  private val NoChar = '\uffff'

  val default: Nysiis = Nysiis(strict = true)
  val nonStrict: Nysiis = Nysiis(strict = false)

  private def isVowel(c: Char): Boolean = {
    val lc = Character.toLowerCase(c)
    lc == 'a' || lc == 'e' || lc == 'i' || lc == 'o' || lc == 'u'
  }

  /** Writes the transcoding of `chars(index)` over `chars` from `index`
    * (ref: nysiis.rs:80-120): its previous char, next char and the one
    * after decide it, and a multi-char result (AF, NN, SSS, FF) overwrites
    * the chars that follow.
    */
  private def transcodeInPlace(chars: Array[Char], index: Int): Unit = {
    val previous = chars(index - 1)
    val current = chars(index)
    val len = chars.length
    val next = if (index + 1 < len) chars(index + 1) else NoChar
    val nextNext = if (index + 2 < len) chars(index + 2) else NoChar
    def put(s: String): Unit = s.getChars(0, s.length, chars, index)
    if (current == 'E' && next == 'V') put("AF")
    else if (isVowel(current)) chars(index) = 'A'
    else current match {
      case 'Q' => chars(index) = 'G'
      case 'Z' => chars(index) = 'S'
      case 'M' => chars(index) = 'N'
      case 'K' => if (next == 'N') put("NN") else chars(index) = 'C'
      case _ =>
        if (current == 'S' && next == 'C' && nextNext == 'H') put("SSS")
        else if (current == 'P' && next == 'H') put("FF")
        else if ((current == 'H' && (!isVowel(previous) || !isVowel(next))) ||
            (current == 'W' && isVowel(previous))) chars(index) = previous
    }
  }
}
