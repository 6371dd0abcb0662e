package graft.flatten

import com.fasterxml.jackson.databind.JsonNode

import EmptyShapes.{RArr, RObj, RScalar, Raw}

/** Reference fold of [[EmptyShapes.Raw]] shapes that the specs check
  * [[EmptyShapes.Shape]] against: one immutable `Raw` per document
  * ([[ofJson]]) merged pairwise ([[merge]]), rebuilding every map level
  * on each merge. Mixed kinds collapse to `RScalar`.
  */
object ShapeOracle {

  def merge(a: Raw, b: Raw): Raw = (a, b) match {
    case (RObj(x), RObj(y)) =>
      RObj((x.keySet ++ y.keySet).iterator.map { k =>
        k -> ((x.get(k), y.get(k)) match {
          case (Some(p), Some(q)) => merge(p, q)
          case (Some(p), None)    => p
          case (None, Some(q))    => q
          case _                  => RScalar // unreachable
        })
      }.toMap)
    case (RArr(x), RArr(y)) => (x, y) match {
      case (Some(p), Some(q)) => RArr(Some(merge(p, q)))
      case (Some(p), None)    => RArr(Some(p))
      case (None, Some(q))    => RArr(Some(q))
      case _                  => RArr(None)
    }
    case _ => RScalar
  }

  def ofJson(n: JsonNode): Raw =
    if (n.isObject) {
      val it = n.fields()
      val m = Map.newBuilder[String, Raw]
      while (it.hasNext) { val e = it.next(); m += e.getKey -> ofJson(e.getValue) }
      RObj(m.result())
    } else if (n.isArray) {
      var acc: Option[Raw] = None
      val it = n.elements()
      while (it.hasNext) {
        val r = ofJson(it.next())
        acc = Some(acc.fold(r)(merge(_, r)))
      }
      RArr(acc)
    } else RScalar

  /** The merged shape of `docs`, in order; None when there are none. */
  def fold(docs: Seq[JsonNode]): Option[Raw] =
    docs.map(ofJson).reduceOption(merge)
}
