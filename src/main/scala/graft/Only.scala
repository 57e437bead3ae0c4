package graft

/** `SPARK_GRAFT_ONLY`, the comma-separated names a [[Verify]] or [[Bench]]
  * run is restricted to: blank is unset, and a name the run does not know
  * fails it before it starts, so no typo makes a run that checks nothing. */
object Only {
  def parse(value: Option[String], known: Set[String]): Option[Set[String]] =
    value.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty).map { names =>
        require(names.subsetOf(known), "SPARK_GRAFT_ONLY: unknown name(s) " +
          (names -- known).toSeq.sorted.mkString(", "))
        names
      }
}
