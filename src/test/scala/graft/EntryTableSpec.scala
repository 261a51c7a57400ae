package graft

import graft.Gate._
import org.scalatest.funsuite.AnyFunSuite

/** Spark-free gates on the driver-contract table: every query is reachable
  * by one name, and every approximate path has an exact twin that answers
  * to an oracle. */
class EntryTableSpec extends AnyFunSuite {

  private val table = SparkEntry.table
  private val byName = table.map(e => e.name -> e).toMap

  /** The entry a SameOracleAs chain from `name` ends at, or why it does
    * not end at an Oracle. */
  private def chainEnd(name: String, seen: List[String] = Nil): Either[String, Entry] =
    if (seen.contains(name)) Left(s"cycle ${(name :: seen).reverse.mkString(" -> ")}")
    else byName.get(name) match {
      case None => Left(s"$name is not in the table")
      case Some(Entry(_, _, SameOracleAs(next))) => chainEnd(next, name :: seen)
      case Some(e @ Entry(_, _, Oracle(_))) => Right(e)
      case Some(Entry(_, _, g)) => Left(s"$name ends the chain at $g")
    }

  test("entry names are unique") {
    val dups = table.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    assert(dups.isEmpty, s"duplicate entry names: $dups")
  }

  test("every SameOracleAs chain ends in an Oracle") {
    val broken = table.collect { case Entry(n, _, SameOracleAs(_)) => chainEnd(n) }
      .collect { case Left(why) => why }
    assert(broken.isEmpty, broken.mkString("; "))
  }

  test("every GradedBy names an entry that has an oracle") {
    val broken = table.collect { case Entry(n, _, GradedBy(twin)) =>
      chainEnd(twin).left.map(why => s"$n graded by $twin: $why")
    }.collect { case Left(why) => why }
    assert(broken.isEmpty, broken.mkString("; "))
  }

  test("the entries without an oracle are exactly the GradedBy ones") {
    val noOracle = table.map(_.name).filterNot(SparkEntry.oracleSql.contains).toSet
    val graded = table.collect { case Entry(n, _, GradedBy(_)) => n }.toSet
    assert(noOracle === graded)
  }

  test("the oracle keys are a subset of the query keys") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
  }
}
