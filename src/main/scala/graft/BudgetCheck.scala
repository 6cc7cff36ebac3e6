package graft

/** Per-query wall-clock budgets: SCALE.md pins plan SHAPES, this pins plan
  * TIMES — without it a 2× single-query regression hides inside a
  * 229-query total (the round-5 lesson: a uniform session-level drift was
  * only visible because two rounds were hand-diffed).
  *
  * `BUDGETS.json` (repo root) maps query name → ceiling seconds at sf0.1
  * (best-of-2), set with a margin over the measured time when the budget
  * was minted; its `_cpus` entry records the core count it was minted on.
  * [[Bench]] checks a run against it only at sf0.1 on that core count
  * (ceilings minted on 32 cores say nothing about an 8-core run) and emits
  * violations, or why it skipped them, in its JSON line; queries newer than
  * the budgets file simply aren't checked (they get a ceiling when the file
  * is next regenerated).
  *
  * The file is flat string→number JSON, parsed with a regex rather than a
  * JSON library — the library has zero runtime deps beyond Spark, and the
  * file is repo-controlled. Keys starting with `_` describe the file and
  * are never budgets.
  */
object BudgetCheck {

  /** name → ceiling seconds. Missing/unreadable file → empty (no checks). */
  def load(path: java.nio.file.Path): Map[String, Double] =
    if (!java.nio.file.Files.isReadable(path)) Map.empty
    else parse(java.nio.file.Files.readString(path))

  private[graft] def parse(json: String): Map[String, Double] = {
    val entry = """"([^"_][^"]*)"\s*:\s*([0-9]+(?:\.[0-9]+)?)""".r
    entry.findAllMatchIn(json).map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** The core count the budgets were minted on (`"_cpus": N`), if recorded. */
  private[graft] def mintedCpus(json: String): Option[Int] =
    """"_cpus"\s*:\s*([0-9]+)""".r.findFirstMatchIn(json).map(_.group(1).toInt)

  /** Why a run at `sfDir` on `cpus` cores cannot be checked against budgets
    * minted at sf0.1 on `minted` cores; None when it can.
    */
  def skipReason(sfDir: String, cpus: Int, minted: Option[Int]): Option[String] =
    if (!sfDir.endsWith("sf0.1")) Some(s"budgets are for sf0.1, run is at $sfDir")
    else minted match {
      case None => Some("budgets record no core count")
      case Some(c) if c != cpus => Some(s"budgets minted on $c cpus, run on $cpus")
      case _ => None
    }

  /** Queries whose measured best-of-N seconds exceed their ceiling.
    * Unknown queries (no budget row) pass — a new operator must not fail
    * the bench before the budgets file learns about it.
    */
  def violations(
      measured: Map[String, Double],
      budgets: Map[String, Double]
  ): Map[String, (Double, Double)] =
    measured.flatMap { case (name, sec) =>
      budgets.get(name).collect {
        case ceiling if sec > ceiling => name -> ((sec, ceiling))
      }
    }

  /** Render `{"name":{"sec":1.2,"budget":0.6},...}` for the bench line. */
  def toJson(v: Map[String, (Double, Double)]): String =
    v.toSeq.sortBy(_._1)
      .map { case (k, (sec, b)) => s""""$k":{"sec":$sec,"budget":$b}""" }
      .mkString("{", ",", "}")
}
