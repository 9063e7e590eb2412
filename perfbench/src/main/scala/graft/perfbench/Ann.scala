package graft.perfbench

/** `ann`: the index lifecycle. Each timed pass runs the bulk phase
  * ([[AnnBulk]]: build, persist, load, query) and then the churn phase
  * ([[AnnChurn]]: versioned commits with a read after each). Recall of
  * both phases is checked after the passes. */
object Ann {
  def run(r: Run): Unit = {
    val bulk = new AnnBulk(r)
    val churn = new AnnChurn(r)
    r.phase("inputs and ground truth")
    // The bulk warm-up also warms the search paths the churn phase
    // reads through; the churn base of each pass is saved outside its
    // timing, which warms the versioned write path.
    bulk.warmUp()
    r.phase("warm-up")
    r.timedPasses(minPasses = 1, prepare = churn.prepare) { p =>
      bulk.pass(p)
      churn.pass(p)
    }
    if (r.traced) r.tracer.enable()
    r.tracer.op("verify")
    bulk.verify()
    churn.verify()
    r.tracer.disable()
  }
}
