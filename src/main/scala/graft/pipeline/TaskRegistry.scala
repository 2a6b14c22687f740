package graft.pipeline

/** E-family orchestration seam: the site × task enable matrix and the
  * dispatch that wires catalog -> pipeline entry points (reference:
  * code/tasks/tasks.py:42-161 SiteTaskManager + :617-728 run_task
  * dispatch).
  *
  * The matrix is the reference's CSV config (`Site` key column, one
  * boolean column per task). Registered task functions are plain
  * Scala closures — site tasks take the site name, network tasks take
  * none — so the engine's pipelines (L1, Vis, FastData, Status) hang
  * off one runnable front door. Per-task outcomes are returned as
  * data (site, task, ok, error), the engine's analogue of the
  * reference's per-site log files.
  */
object TaskRegistry {

  final case class TaskMatrix(sites: Seq[String], tasks: Seq[String],
      enabled: Map[(String, String), Boolean]) {

    def siteList: Seq[String] = sites

    /** Sites with `task` enabled (disabled=true inverts, like the
      * reference's kwarg). */
    def sitesForTask(task: String, disabled: Boolean = false): Seq[String] = {
      require(tasks.contains(task), s"unknown task: $task")
      sites.filter(s => enabled.getOrElse((s, task), false) != disabled)
    }

    def tasksForSite(site: String, disabled: Boolean = false): Seq[String] = {
      require(sites.contains(site), s"unknown site: $site")
      tasks.filter(t => enabled.getOrElse((site, t), false) != disabled)
    }

    def withStatus(site: String, task: String, status: Boolean): TaskMatrix = {
      require(sites.contains(site) && tasks.contains(task),
        s"unknown site/task: $site/$task")
      copy(enabled = enabled.updated((site, task), status))
    }

    /** CSV round-trip (tasks.py write_tasks_config): `Site` key column
      * then one True/False column per task. */
    def toCsv: String =
      (("Site" +: tasks).mkString(",") +:
        sites.map(s => (s +: tasks.map(t =>
          if (enabled.getOrElse((s, t), false)) "True" else "False"))
          .mkString(","))).mkString("", "\n", "\n")
  }

  /** Parse the reference-shaped CSV matrix. Any cell not literally
    * False/false/0/empty counts as enabled (the reference casts the
    * frame to bool). */
  def fromCsv(csv: String): TaskMatrix = {
    val lines = csv.split("\r?\n").filter(_.nonEmpty).toSeq
    require(lines.nonEmpty, "empty task matrix")
    val header = lines.head.split(",", -1).toSeq
    require(header.headOption.contains("Site"),
      s"first column must be Site, got ${header.headOption}")
    val tasks = header.tail
    val rows = lines.tail.map(_.split(",", -1).toSeq)
    val sites = rows.map(_.head)
    val enabled = rows.flatMap { r =>
      tasks.zipWithIndex.map { case (t, i) =>
        val cell = r.lift(i + 1).getOrElse("").trim
        (r.head, t) ->
          !(cell.isEmpty || cell.equalsIgnoreCase("false") || cell == "0")
      }
    }.toMap
    TaskMatrix(sites, tasks, enabled)
  }

  final case class Outcome(site: Option[String], task: String,
      ok: Boolean, error: Option[String])

  /** Run `task` across its enabled sites (site task) or once (network
    * task) — run_task's dispatch (tasks.py:706-728). Failures are
    * captured per site, not propagated, like the reference's logged
    * try/except. Unknown tasks throw NotImplementedError-style. */
  def runTask(matrix: TaskMatrix, task: String,
      siteTasks: Map[String, String => Unit],
      networkTasks: Map[String, () => Unit] = Map.empty): Seq[Outcome] =
    siteTasks.get(task) match {
      case Some(fn) =>
        matrix.sitesForTask(task).map { site =>
          try { fn(site); Outcome(Some(site), task, ok = true, None) }
          catch { case e: Exception =>
            Outcome(Some(site), task, ok = false,
              Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
        }
      case None => networkTasks.get(task) match {
        case Some(fn) =>
          Seq(try { fn(); Outcome(None, task, ok = true, None) }
          catch { case e: Exception =>
            Outcome(None, task, ok = false,
              Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) })
        case None => throw new NotImplementedError(
          s"Function for task \"$task\" not implemented!")
      }
    }
}
