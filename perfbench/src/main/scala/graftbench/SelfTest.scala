package graftbench

/** `selftest` (run with `--trace 1`): checks that the listener attributes
  * Spark work to the job group of the thread that ran it. Two threads each
  * run jobs under their own group; `run.py`'s tests then check that every
  * job landed in its group. */
object SelfTest {
  val Jobs: Map[String, Int] = Map("alpha" -> 2, "beta" -> 3)

  def run(res: Result): Unit = {
    val spark = Main.session(res)
    val threads = Jobs.toSeq.map { case (g, jobs) =>
      val t = new Thread(() => {
        spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
        (1 to jobs).foreach(_ => spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect())
        spark.sparkContext.clearJobGroup()
      })
      t.start(); t
    }
    threads.foreach(_.join())
  }
}
