package graft.phonetic

/** Jaro-Winkler similarity (Winkler 1990), the standard record-linkage
  * string comparator: Jaro similarity boosted by up to 4 chars of common
  * prefix with scaling factor 0.1. Used as a pairwise scoring feature next
  * to Levenshtein and the MRA rating (the reference library has no string
  * similarity beyond `SoundexCommons::difference`; this is engine-side).
  */
object JaroWinkler {

  private final class Workspace { var matched = new Array[Boolean](64) }
  private val workspace = ThreadLocal.withInitial(() => new Workspace)

  /** Jaro similarity in [0, 1]. */
  def jaro(s1: String, s2: String): Double = {
    if (s1.isEmpty && s2.isEmpty) return 1.0
    if (s1.isEmpty || s2.isEmpty) return 0.0
    if (s1 == s2) return 1.0

    val len1 = s1.length
    val len2 = s2.length
    val matchDistance = math.max(len1, len2) / 2 - 1

    // one reused per-thread array: s1's match flags at [0, len1), s2's
    // at [len1, len1 + len2)
    val ws = workspace.get()
    if (ws.matched.length < len1 + len2)
      ws.matched = new Array[Boolean](math.max(len1 + len2, 2 * ws.matched.length))
    val matched = ws.matched
    java.util.Arrays.fill(matched, 0, len1 + len2, false)
    var matches = 0
    var i = 0
    while (i < len1) {
      val lo = math.max(0, i - matchDistance)
      val hi = math.min(len2 - 1, i + matchDistance)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!matched(len1 + j) && s1.charAt(i) == s2.charAt(j)) {
          matched(i) = true
          matched(len1 + j) = true
          matches += 1
          found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0

    var transpositions = 0
    var k = 0
    i = 0
    while (i < len1) {
      if (matched(i)) {
        while (!matched(len1 + k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) transpositions += 1
        k += 1
      }
      i += 1
    }

    val m = matches.toDouble
    (m / len1 + m / len2 + (m - transpositions / 2.0) / m) / 3.0
  }

  /** Jaro-Winkler similarity in [0, 1] with prefix scale 0.1, max prefix 4. */
  def similarity(s1: String, s2: String): Double = {
    val j = jaro(s1, s2)
    if (j <= 0.7) return j
    var prefix = 0
    val max = math.min(4, math.min(s1.length, s2.length))
    while (prefix < max && s1.charAt(prefix) == s2.charAt(prefix)) prefix += 1
    j + prefix * 0.1 * (1.0 - j)
  }
}
