package graft.functions

/** Primitive-array unwrapping for Dataset-closure hot loops.
  *
  * `Seq[Float].apply` is NOT specialized: indexing a Seq per element in a
  * tight loop boxes every float, which SCALING.md "Round-13 measured
  * updates" records at ~10× over the primitive loop (a 1.3G-multiply-add
  * assignment pass read 6.5 s boxed vs flop-bound primitive). Spark's Dataset decoder hands
  * `Seq[Float]` lambdas an `immutable.ArraySeq.ofFloat`, whose backing
  * array is exposable copy-free; anything else pays one specialized
  * toArray copy. Every per-row numeric kernel that receives a Seq should
  * unwrap through here FIRST and loop over the array.
  */
object Prim {
  def floatArray(v: Seq[Float]): Array[Float] = v match {
    case w: scala.collection.immutable.ArraySeq.ofFloat => w.unsafeArray
    case _ => v.toArray
  }
}
