package perfbench

import org.apache.spark.sql.Row

/** The output checks, as functions of the program's output and the
  * benchmark's own expectation; each returns the problems it finds
  * (empty when the output is right). The workloads call them on every
  * run and [[SelfTest]] feeds them corrupted outputs. */
object Checks {

  /** Core value equality: both null, or equal with the same type. */
  def same(got: Any, exp: Any): Boolean = (got, exp) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (g: java.lang.Number, e: java.lang.Number) => g.getClass == e.getClass && g == e
    case (g, e) => g == e
  }

  /** Core rows (columns `cols`, the key first) against the generator's
    * last-write-wins expectation; columns it does not name must be NULL. */
  def coreRows(rows: Seq[Row], cols: Seq[String],
               expected: Map[(Int, Int), Map[String, Any]]): Seq[String] = {
    val count =
      if (rows.size == expected.size) Nil
      else Seq(s"core holds ${rows.size} rows, expected ${expected.size}")
    val values = rows.iterator.flatMap { r =>
      val key = (r.getInt(0), r.getInt(1))
      expected.get(key) match {
        case None => Some(s"unexpected core row $key")
        case Some(e) => cols.indices.collectFirst {
          case i if !same(r.get(i), e.get(cols(i)).orNull) =>
            s"core row $key column ${cols(i)}: ${r.get(i)} != ${e.get(cols(i)).orNull}"
        }
      }
    }.take(3).toSeq
    count ++ values
  }

  /** The raw pages a re-ingest wrote must be exactly the changed ones. */
  def pagesWritten(written: Set[(Int, Int)], changed: Set[(Int, Int)]): Seq[String] =
    if (written == changed) Nil
    else Seq(s"re-ingest wrote unchanged pages ${(written -- changed).take(5)} " +
      s"and missed changed pages ${(changed -- written).take(5)}")

  /** A read of a table version against the model of that version. */
  def snapshot(what: String, got: Fp, model: Fp.Model): Seq[String] = {
    val exp = Fp.of(model)
    if (got == exp) Nil else Seq(s"$what read $got, the model holds $exp")
  }

  /** A change span from model `a` to model `b` that reported `ins`
    * inserts and `del` deletes. */
  def changeSpan(a: Fp.Model, b: Fp.Model, ins: Long, del: Long): Seq[String] = {
    val (expIns, expDel) = (b.keySet.diff(a.keySet).size, a.keySet.diff(b.keySet).size)
    (if (b.size == a.size + ins - del) Nil
     else Seq(s"count ${b.size} != ${a.size} + $ins - $del")) ++
      (if (ins == expIns && del == expDel) Nil
       else Seq(s"$ins inserts and $del deletes, the model has $expIns and $expDel"))
  }
}
