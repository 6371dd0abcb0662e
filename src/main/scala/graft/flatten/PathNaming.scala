package graft.flatten

/** Column-naming contract of the flattener (SURVEY.md §1.3).
  *
  * Behavior spec from the reference [`ElasticSearch ETL.py:23-34, 51, 63-65`]:
  * each key is PascalCased by uppercasing ONLY the first character; path
  * segments join with `_`; array elements insert a numeric segment; final
  * column order is a plain lexicographic string sort of the full path (so
  * `Foo_10_X` sorts before `Foo_1_X` — quirk Q9, deliberate).
  */
object PathNaming {

  /** First char upper, rest verbatim [`ElasticSearch ETL.py:23-27`]. */
  def toPascal(s: String): String =
    if (s == null || s.isEmpty) s
    else if (s.length > 1) s"${s.charAt(0).toUpper}${s.substring(1)}"
    else s.toUpperCase

  /** First char lower, rest verbatim [`ElasticSearch ETL.py:30-34`]. */
  def toCamel(s: String): String =
    if (s == null || s.isEmpty) s
    else if (s.length > 1) s"${s.charAt(0).toLower}${s.substring(1)}"
    else s.toLowerCase

  val Sep = "_"

  def join(parent: String, key: String): String =
    if (parent.isEmpty) key else s"$parent$Sep$key"

  def indexed(parent: String, i: Int): String = join(parent, i.toString)

  /** Sibling keys colliding on the same Pascal column (quirk Q3): the
    * reference's extraction probes `[camelCase, lower, exact, capitalize]`
    * in order and the first present key wins [`ElasticSearch ETL.py:109-121`].
    * Given the raw sibling keys that produced one pascal name, return the
    * winning raw key under that probe order.
    */
  def collisionWinner(pascal: String, rawKeys: Seq[String]): String = {
    val probes = Seq(
      toCamel(pascal), pascal.toLowerCase, pascal,
      pascal.toLowerCase.capitalize)
    probes.collectFirst { case p if rawKeys.contains(p) => p }
      .getOrElse(rawKeys.head)
  }
}
