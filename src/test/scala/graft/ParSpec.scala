package graft

import graft.operators.Par

class ParSpec extends SparkSpec {

  test("every Par block runs under its caller's job group and description") {
    val sc = spark.sparkContext
    def seen() = (sc.getLocalProperty("spark.jobGroup.id"),
      sc.getLocalProperty("spark.job.description"))
    try {
      // consecutive calls reuse the pool threads the first call created
      for (g <- Seq("par-a", "par-b", "par-c")) {
        sc.setJobGroup(g, s"$g desc")
        val (x, y) = Par.par2(seen(), seen())
        assert(x == (g, s"$g desc") && y == (g, s"$g desc"), s"$g: $x, $y")
        Thread.sleep(100) // let both threads go back to the pool
      }
    } finally sc.clearJobGroup()
  }
}
