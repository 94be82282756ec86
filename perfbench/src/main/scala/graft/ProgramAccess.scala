package graft

/** The program internals the benchmark harness reaches: the substrate
  * memo's pinned RDDs, and the registry entries by name without
  * loading every query family.
  */
object ProgramAccess {
  /** The memo's pinned RDDs, which a sweep of per-query pins must spare. */
  def protectedRddIds: Set[Int] = ops.DfMemo.protectedRddIds

  /** The named entries of the families that hold the benchmark's queries. */
  def queries(names: Set[String]): Seq[SparkEntry.Q] =
    (QCore.qs ++ QSimText.qs ++ QDedup1.qs ++ QDedup2.qs ++ QEmbed.qs ++ QCuration.qs)
      .filter(q => names(q.name))
}
