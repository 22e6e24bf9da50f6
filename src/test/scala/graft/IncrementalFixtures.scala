package graft

/** String corpora shared by the incremental-join parity specs
  * (RelationalSpec) and the cache-release spec: each is split into
  * history and an arriving batch by its `isNew` id predicate.
  */
object IncrementalFixtures {

  /** 40 base strings (9-13 chars over an 8-char alphabet), each with a
    * one-edit and a two-edit mutant, plus one short row on each side
    * ("ab" in the batch, "abcd" in history). */
  val editRows: Seq[(Long, String)] = {
    def base(i: Int): String = {
      val chars = "abcdefgh"
      (0 until 9 + i % 5).map(j => chars((i * 31 + j * 7) % 8)).mkString
    }
    def mutate(s: String, m: Int, i: Int): String = {
      val p = (i * 13 + m * 5) % s.length
      m % 3 match {
        case 0 => s.updated(p, 'z')
        case 1 => s.take(p) + s.drop(p + 1)
        case _ => s.take(p) + "q" + s.drop(p)
      }
    }
    (0 until 40).flatMap { i =>
      Seq((i * 3L, base(i)), (i * 3L + 1, mutate(base(i), i, i)),
        (i * 3L + 2, mutate(mutate(base(i), i, i), i + 1, i)))
    } ++ Seq((1000L, "ab"), (1001L, "abcd"))
  }
  def editIsNew(id: Long): Boolean = id % 10 == 0 || id == 1000L

  /** 30 base strings (30 chars over an 8-char alphabet, so 8 distinct
    * trigrams each) with two single-'Z'-substitution variants each — 'Z'
    * never appears in a base, so batch variants carry grams history has
    * never seen. A planted new-new matching pair (2000/2010) plus its
    * old twin (id 3), and two sub-n strings (3001/3010). */
  val fuzzyRows: Seq[(Long, String)] = {
    def base(i: Int): String = {
      val chars = "abcdefgh"
      (0 until 30).map(j => chars((i * 31 + j * 7) % 8)).mkString
    }
    def sub(s: String, p: Int): String = s.updated(p % s.length, 'Z')
    (0 until 30).flatMap { i =>
      Seq((i * 3L, base(i)), (i * 3L + 1, sub(base(i), i * 7 + 1)),
        (i * 3L + 2, sub(base(i), i * 11 + 17)))
    } ++ Seq((2000L, base(1)), (2010L, sub(base(1), 5)),
      (3001L, "ab"), (3010L, "ab"))
  }
  def fuzzyIsNew(id: Long): Boolean = id % 10 == 0
}
