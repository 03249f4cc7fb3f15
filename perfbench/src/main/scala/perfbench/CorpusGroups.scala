package perfbench

/** Maps the Spark work of one `CorpusPipeline.run` call onto the stage
  * list it returns. Each Dataset action is one SQL execution, named by
  * its call site; its adaptive query stages run as several jobs. Each
  * stage ends with a `count`, so the n-th `count` execution is the n-th
  * stage, the sketch's `localCheckpoint` is MinHash, and any other work
  * (the training-window write) joins the next stage.
  */
object CorpusGroups {
  final case class Result(metrics: Map[String, Double], lshStage: Option[Int],
      complete: Boolean, units: Seq[(String, String, Double)])

  private val metricOf = Map(
    "pages" -> "sources.scan_s", "extracted" -> "extract.kernel_s",
    "quality" -> "queries.quality_s", "exact_dedup" -> "queries.exact_dedup_s",
    "minhash" -> "queries.minhash_s", "near_dedup" -> "queries.lsh_join_s")

  /** A run of jobs from one execution (or one job outside any). */
  private final case class Action(site: String, secs: Double, jobs: Vector[JobRec])

  def secs(jobs: Vector[JobRec], stages: Seq[String], listener: StageListener): Result = {
    val units = jobs.foldLeft(Vector.empty[Vector[JobRec]]) { (acc, j) =>
      if (acc.nonEmpty && j.execution >= 0 && acc.last.head.execution == j.execution)
        acc.init :+ (acc.last :+ j)
      else acc :+ Vector(j)
    }.map { js =>
      listener.synchronized(listener.executions.get(js.head.execution)) match {
        case Some(e) if e.end > 0 => Action(e.description, e.secs, js)
        case _ => Action(js.head.callSite, js.map(_.secs).sum, js)
      }
    }
    val labelled = Vector.newBuilder[(String, Action)]
    var pending = Vector.empty[Action]
    var next = 0
    def flush(label: String, u: Action): Unit = {
      (pending :+ u).foreach(x => labelled += label -> x)
      pending = Vector.empty
    }
    units.foreach { u =>
      if (u.site.startsWith("count at") && next < stages.length) { flush(stages(next), u); next += 1 }
      else if (u.site.startsWith("localCheckpoint at")) flush("minhash", u)
      else pending :+= u
    }
    val byLabel = labelled.result()
    val metrics = metricOf.values.map(_ -> 0.0).toMap + ("app.corpus_tail_s" -> 0.0) ++
      byLabel.groupBy(x => metricOf.getOrElse(x._1, "app.corpus_tail_s"))
        .map { case (k, xs) => k -> xs.map(_._2.secs).sum }
    val lshJobs = byLabel.filter(_._1 == "near_dedup").flatMap(_._2.jobs)
    val lshStage = listener.stagesOf(lshJobs)
      .filter(s => listener.tasksOf(Seq(s)).size > 1)
      .maxByOption(s => listener.tasksOf(Seq(s)).map(_.runMs).max)
    Result(metrics, lshStage, next == stages.length && pending.isEmpty,
      byLabel.map { case (l, u) => (l, u.site, u.secs) })
  }
}
