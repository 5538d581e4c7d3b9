package graft.phonetic

/** Kölner Phonetik (Cologne phonetics), commons-codec semantics
  * (ref: /root/reference/src/cologne.rs:68-132).
  *
  * German algorithm producing a digit string. Uppercases, folds Ä/Ü/Ö, codes
  * each A-Z char with next/prev context; '0' kept only as first output char;
  * 'H' is silent but still breaks deduplication; non-ASCII-uppercase chars
  * are skipped WITHOUT updating the previous-char state (so "Test test"
  * encodes as "28282").
  */
object Cologne extends PhoneticEncoder {
  private val Ignore = '-'

  private def in(set: String, c: Char): Boolean = set.indexOf(c.toInt) >= 0

  /** The char at `i` uppercased, with Ä/Ü/Ö folded, read in place: `tmp`
    * is either ASCII or already uppercased.
    */
  private def folded(tmp: String, i: Int): Char = {
    val c = tmp.charAt(i)
    if (c >= 'a' && c <= 'z') (c - 32).toChar
    else if (c == 'Ä') 'A'
    else if (c == 'Ü') 'U'
    else if (c == 'Ö') 'O'
    else c
  }

  override def encode(s: String): String = {
    val tmp = if (CaseFold.isAscii(s)) s else s.toUpperCase(java.util.Locale.ROOT)

    val buffer = new java.lang.StringBuilder(tmp.length)
    // last char pushed to the output (dedup state, ref: cologne.rs:32-52)
    var outLast = '/'
    def push(ch: Char): Unit = {
      if (ch != Ignore && outLast != ch && (ch != '0' || buffer.length == 0))
        buffer.append(ch)
      outLast = ch
    }

    var lastChar = Ignore
    var i = 0
    while (i < tmp.length) {
      val ch = folded(tmp, i)
      if (ch >= 'A' && ch <= 'Z') {
        // next char is the raw following char, unfiltered (may be space etc.)
        val nextChar = if (i + 1 < tmp.length) folded(tmp, i + 1) else Ignore

        if (in("AEIJOUY", ch)) push('0')
        else if (ch == 'B' || (ch == 'P' && nextChar != 'H')) push('1')
        else if ((ch == 'D' || ch == 'T') && !in("CSZ", nextChar)) push('2')
        else if (in("FPVW", ch)) push('3')
        else if (in("GKQ", ch)) push('4')
        else if (ch == 'X' && !in("CKQ", lastChar)) { push('4'); push('8') }
        else if (ch == 'S' || ch == 'Z') push('8')
        else if (ch == 'C') {
          if (buffer.length == 0) {
            if (in("AHKLOQRUX", nextChar)) push('4') else push('8')
          } else if (in("SZ", lastChar) || !in("AHKOQUX", nextChar)) push('8')
          else push('4')
        } else if (in("DTX", ch)) push('8')
        else
          ch match {
            case 'R'       => push('7')
            case 'L'       => push('5')
            case 'M' | 'N' => push('6')
            case 'H'       => push(Ignore)
            case _         =>
          }

        lastChar = ch
      }
      i += 1
    }
    buffer.toString
  }
}
