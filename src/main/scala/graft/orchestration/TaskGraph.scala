package graft.orchestration

import scala.util.{Failure, Success, Try}

/** Minimal orchestration runtime replacing the reference's Airflow layer
  * (D1-D3, SURVEY.md §2h): a task DAG with per-task retry policy, run inside
  * ONE process. The reference's XCom pickle transport between worker
  * processes (EIA930PipelineHourlyData.py:183-284) disappears — stage
  * handoff is lazy DataFrame lineage inside a single Spark app, and external
  * cron triggers the app per the reference's schedules.
  */
object TaskGraph {

  /** Airflow parity: retries=2, 15-minute delay
    * (EIA930PipelineHourlyData.py:292-293); tests inject a tiny delay.
    */
  final case class RetryPolicy(retries: Int = 2, delayMs: Long = 15 * 60 * 1000)

  final case class Task(
      id: String,
      upstream: Seq[String] = Nil,
      policy: RetryPolicy = RetryPolicy())(val run: () => Unit)

  sealed trait TaskResult
  case object Succeeded extends TaskResult
  final case class FailedAfterRetries(attempts: Int, error: Throwable) extends TaskResult
  case object SkippedUpstreamFailure extends TaskResult

  /** Topologically execute the graph; downstream of a failed task is
    * skipped (Airflow default trigger rule). Returns per-task results.
    */
  def run(tasks: Seq[Task], sleep: Long => Unit = Thread.sleep): Map[String, TaskResult] = {
    val byId = tasks.map(t => t.id -> t).toMap
    require(byId.size == tasks.size, "duplicate task ids")
    tasks.foreach(t => t.upstream.foreach(u =>
      require(byId.contains(u), s"unknown upstream '$u' of '${t.id}'")))

    val order = topoSort(tasks)
    val results = scala.collection.mutable.Map.empty[String, TaskResult]
    order.foreach { t =>
      if (t.upstream.exists(u => results(u) != Succeeded))
        results(t.id) = SkippedUpstreamFailure
      else
        results(t.id) = attempt(t, sleep)
    }
    results.toMap
  }

  /** Like [[run]], but independent ready tasks execute CONCURRENTLY on
    * `parallelism` worker threads (the reference's CeleryExecutor runs task
    * processes in parallel; docker-compose.yaml scales workers). Semantics
    * identical to `run`: a task starts only when every upstream Succeeded,
    * downstream of failure is skipped, per-task retries apply. Wave-based
    * scheduling: each wave launches every currently-ready task and joins —
    * simple, deterministic result maps, and a Spark driver mostly WANTS
    * bounded submission concurrency (jobs from separate threads fill the
    * scheduler's pools). The pool is made per call, so its threads are
    * created by the caller and inherit its Spark local properties (job
    * group, scheduler pool).
    */
  def runParallel(tasks: Seq[Task], parallelism: Int = 4,
                  sleep: Long => Unit = Thread.sleep): Map[String, TaskResult] = {
    require(parallelism >= 1, "parallelism >= 1")
    val byId = tasks.map(t => t.id -> t).toMap
    require(byId.size == tasks.size, "duplicate task ids")
    tasks.foreach(t => t.upstream.foreach(u =>
      require(byId.contains(u), s"unknown upstream '$u' of '${t.id}'")))
    topoSort(tasks) // cycle check up front

    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    try {
      val results = scala.collection.concurrent.TrieMap.empty[String, TaskResult]
      var remaining = tasks
      while (remaining.nonEmpty) {
        val (ready, blocked) = remaining.partition(
          _.upstream.forall(results.contains))
        // topoSort guarantees progress: some task always has all upstreams done
        val futures = ready.map { t =>
          t -> pool.submit(new java.util.concurrent.Callable[TaskResult] {
            override def call(): TaskResult =
              if (t.upstream.exists(u => results(u) != Succeeded))
                SkippedUpstreamFailure
              else attempt(t, sleep)
          })
        }
        futures.foreach { case (t, f) => results(t.id) = f.get() }
        remaining = blocked
      }
      results.toMap
    } finally pool.shutdown()
  }

  private def attempt(t: Task, sleep: Long => Unit): TaskResult = {
    var attempts = 0
    var lastError: Throwable = null
    while (attempts <= t.policy.retries) {
      attempts += 1
      Try(t.run()) match {
        case Success(_) => return Succeeded
        case Failure(e) =>
          lastError = e
          if (attempts <= t.policy.retries) sleep(t.policy.delayMs)
      }
    }
    FailedAfterRetries(attempts, lastError)
  }

  private def topoSort(tasks: Seq[Task]): Seq[Task] = {
    val byId = tasks.map(t => t.id -> t).toMap
    val visiting = scala.collection.mutable.Set.empty[String]
    val done = scala.collection.mutable.LinkedHashSet.empty[String]
    def visit(id: String): Unit = {
      if (!done.contains(id)) {
        require(visiting.add(id), s"cycle through task '$id'")
        byId(id).upstream.foreach(visit)
        visiting.remove(id)
        done.add(id)
      }
    }
    tasks.foreach(t => visit(t.id))
    done.toSeq.map(byId)
  }
}
