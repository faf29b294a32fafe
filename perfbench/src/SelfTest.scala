package perfbench

import scala.collection.mutable

/** The checks' own test: a clean verification rep must pass every check,
  * and each of the workload's deliberate corruptions of that rep's outputs
  * must fail at least one; an output digest with one double sum perturbed
  * past the tolerance must not match the verified one. Prints one line per
  * case and a JSON summary last; exits 1 if any case went the wrong way.
  */
object SelfTest {
  def run(w: Workload, a: Main.Args): Unit = {
    val spark = Main.session(a.work)
    w.generate(spark)
    val r = new Runner(spark, None, Collect)
    val res = w.rep(r)
    r.release()
    val errors = res.groups.flatMap(_.error)
    val clean = if (errors.isEmpty) Workload.checks(w, r.collected) else new Checks
    val cleanOk = errors.isEmpty && clean.failed.isEmpty
    println(s"# selftest ${w.name} clean: ${if (cleanOk) "passed" else "FAILED"} " +
      (errors ++ clean.failed).mkString("; "))
    val caughtChecks = w.corruptions.map { case (name, corrupt) =>
      val out = mutable.HashMap.from(r.collected)
      corrupt(out)
      val c = Workload.checks(w, out)
      println(s"# selftest ${w.name} corruption '$name': " +
        (if (c.failed.nonEmpty) s"caught by ${c.failed.mkString("; ")}" else "NOT CAUGHT"))
      name -> c.failed.nonEmpty
    }
    // a timed rep whose doubles are off by more than the tolerance must not
    // match the verified digest
    val perturbed = r.digests.toSeq.find(_._2.doubles.nonEmpty).map { case (name, d) =>
      val x = d.doubles.head
      val bad = d.copy(doubles = d.doubles.updated(0,
        x.copy(sum = x.sum + 1e3 * OutDigest.rel * math.max(1.0, x.abs))))
      val c = d.matches(d) && !d.matches(bad)
      println(s"# selftest ${w.name} corruption 'perturb ${x.col} of $name': " +
        (if (c) "caught by the digest" else "NOT CAUGHT"))
      s"perturb one double of $name" -> c
    }
    spark.stop()
    val caught = caughtChecks ++ perturbed
    val ok = cleanOk && caught.forall(_._2)
    val cases = caught.map { case (n, c) => s""""$n": $c""" }.mkString(", ")
    println(s"""{"selftest": "${w.name}", "clean": $cleanOk, "corruptions_caught": {$cases}, "ok": $ok}""")
    if (!ok) sys.exit(1)
  }
}
