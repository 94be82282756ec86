package graft

/** Diagnostic harness behind the cross-round bench forensics (VERDICT
  * r9 task #1): NOT part of the driver contract.
  *
  *   runMain graft.Lab plan <sfDir> <outDir> <q1,q2,…>
  *     — dump each query's executedPlan with exprIds/plan ids
  *       normalized (#123 → #N) so the SAME tree diffs byte-equal
  *       across JVMs/builds; the cheapest way to answer "did the plan
  *       change between two commits" without re-benching anything.
  *
  *   runMain graft.Lab time <sfDir> <reps> <q1,q2,…>
  *     — run each query `reps` times in ONE JVM and print every
  *       sample as a JSON line; sample #1 is cold (plan compile +
  *       codegen), the tail is the resident-cluster cost. Medians
  *       across JVMs answer "methodology or regression".
  */
object Lab {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val sfDir = Scratch.localize(args(1))
    val spark = GraftSession(GraftSession.cpus)
    mode match {
      case "plan" =>
        val outDir = new java.io.File(args(2)); outDir.mkdirs()
        args(3).split(",").foreach { name =>
          val p = SparkEntry.queries(name)(spark, sfDir)
            .queryExecution.executedPlan.toString
            .replaceAll("#\\d+", "#N")
            .replaceAll("plan_id=\\d+", "plan_id=N")
            .replaceAll("\\[id=#N\\]", "")
          java.nio.file.Files.writeString(
            new java.io.File(outDir, s"$name.plan.txt").toPath, p)
          println(s"[lab] wrote ${outDir}/$name.plan.txt (${p.length} chars)")
        }
      case "time" =>
        val reps = args(2).toInt
        args(3).split(",").foreach { name =>
          val fn = SparkEntry.queries(name)
          (1 to reps).foreach { i =>
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            val s = (System.nanoTime() - t0) / 1e9
            println(f"""{"q":"$name","i":$i,"sec":$s%.3f}""")
          }
        }
      case "sub" =>
        // time substrate builds in isolation (r17 optimization round):
        // Bench's SPARK_GRAFT_ONLY skips the substrate pass entirely,
        // so this is the only harness that prices a build by name.
        // DfMemo is cleared between reps — every sample is a real
        // cold build, not a memo hit.
        val reps = args(2).toInt
        args(3).split(",").foreach { name =>
          val fn = Substrates.all.toMap.apply(name)
          (1 to reps).foreach { i =>
            ops.DfMemo.clear()
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            val s = (System.nanoTime() - t0) / 1e9
            println(f"""{"q":"$name","i":$i,"sec":$s%.3f}""")
          }
          ops.DfMemo.clear()
        }
      case other => sys.error(s"unknown Lab mode $other")
    }
    spark.stop()
  }
}
