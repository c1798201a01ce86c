package graft

/** Scratch probe (dev tool): run a8 end-to-end at the given SF dir and
  * print its wall time.
  */
object A8Probe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val s = GraftSession.get("local[32]")
    val t0 = System.nanoTime()
    operators.TxnQueries.a8(s, dir).write.format("noop")
      .mode("overwrite").save()
    println(f"a8 total ${(System.nanoTime() - t0) / 1e9}%.1f s ($dir)")
    s.stop()
  }
}
