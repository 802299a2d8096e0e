package graft.tools
import graft.GraftSession
import graft.engine.FossilEngine
import graft.Tables
object Dbg {
  def main(a: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    val eng = FossilEngine.over(
      Tables.eventEntries(spark, "/root/testdata/sf0.001"), Tables.eventsCatalog)
    def probe(q: String): Unit =
      try {
        val n = eng.query(q).count()
        println(s"OK    [$q] -> $n rows")
      } catch { case e: Exception =>
        println(s"ERR   [$q] -> ${e.getClass.getSimpleName}: ${e.getMessage.linesIterator.next()}")
      }
    probe("foo")                                     // invalid quantifier
    probe("all and then some garbage")               // trailing garbage
    probe("all in /12")                              // ref-parity: ERR — '/'+digit lexes as slash, not topic (corpus invalid.txt)
    probe("all | filter x -> y > 1")                 // unresolved ident
    probe("all | filter x -> x == 'foo'")            // string vs float compare
    probe("all | reduce a -> a")                     // reduce arity
    probe("all | map x -> frob(x)")                  // unknown builtin
    probe("all | map x -> 1, x | map a, b, c -> a")  // arg/tuple arity mismatch
    probe("all between ~(2024/01/03), ~(2024/01/02)")// inverted range -> 0 rows
    probe("all since ~now + @day")                   // future start -> 0 rows
    probe("sample(0)")                               // zero interval
    probe("all in /nosuchtopic")                     // unknown topic -> 0 rows
    probe("all | map x -> x[5]")                     // subscript scalar
    spark.stop()
  }
}
