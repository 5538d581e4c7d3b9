package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** A learned BPE merge table in evaluation form: rank lookup plus a
  * per-executor word memo (corpus words repeat heavily — Zipf — so most
  * rows hit the cache instead of re-running the merge loop). Built from
  * the merges literal once per plan copy of a `graft_bpe_*` call and
  * shipped to executors as a plan reference object.
  */
final class BpeModel(mergesStr: String) extends Serializable {
  val ranks: Map[(String, String), Int] = graft.ops.Bpe.parseMerges(mergesStr)

  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[UTF8String]]()

  def encodeWord(w: String): Array[UTF8String] = {
    val hit = cache.get(w)
    if (hit != null) return hit
    val arr = graft.ops.Bpe.encodeWord(w, ranks)
      .map(UTF8String.fromString).toArray
    // bounded memo: past 64k distinct words just compute (no eviction
    // churn, no unbounded executor memory)
    if (cache.size < 65536) cache.put(w, arr)
    arr
  }
}

/** Static eval targets for codegen (mirrors PhoneticFunctions). */
object BpeFunctions {
  def countTokens(text: UTF8String, model: BpeModel): Int = {
    var n = 0
    graft.ops.Bpe.words(text.toString)
      .foreach(w => n += model.encodeWord(w).length)
    n
  }

  def encode(text: UTF8String, model: BpeModel): GenericArrayData = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
    graft.ops.Bpe.words(text.toString)
      .foreach(w => buf ++= model.encodeWord(w))
    new GenericArrayData(buf.toArray)
  }
}
