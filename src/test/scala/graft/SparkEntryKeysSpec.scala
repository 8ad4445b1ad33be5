package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry._

/** The key declarations agree with themselves and with the views
  * derived from them. Pure: reads the declarations, runs no key. */
class SparkEntryKeysSpec extends AnyFunSuite {

  private val byName = keys.groupBy(_.name)

  test("every key name is declared once") {
    val dups = byName.collect { case (n, ks) if ks.size > 1 => n }
    assert(dups.isEmpty, s"declared more than once: ${dups.mkString(", ")}")
  }

  test("every RowsOnly companion is a declared Contract key with a Sql oracle") {
    for (Key(name, _, RowsOnly(companion), _) <- keys) {
      val gate = byName.get(companion).map(_.head)
      assert(gate.exists(_.role == Contract), s"$name -> $companion")
      assert(gate.exists(_.oracle.isInstanceOf[Sql]), s"$name -> $companion")
    }
  }

  test("every Contract key has a Sql oracle") {
    for (k <- keys if k.role == Contract)
      assert(k.oracle.isInstanceOf[Sql], k.name)
  }

  test("every Sql text and Untimed reason is non-empty") {
    // a null here is a declaration read before its shared oracle val
    for (Key(name, _, Sql(text), _) <- keys)
      assert(text != null && text.trim.nonEmpty, name)
    for (Key(name, _, _, Untimed(reason)) <- keys)
      assert(reason != null && reason.trim.nonEmpty, name)
  }

  test("queries is the Sql keys plus the RowsOnly keys") {
    val rowsOnly = keys.collect { case Key(n, _, RowsOnly(_), _) => n }.toSet
    assert(oracleSql.keySet.intersect(rowsOnly).isEmpty)
    assert(queries.keySet == oracleSql.keySet ++ rowsOnly)
    assert(queries.size == keys.size)
  }
}
