package graft

import org.apache.spark.sql.{DataFrame, Row}

/** Runs one frame twice: compiled inside whole-stage codegen, and
  * through the interpreted evaluator. `ConvertToLocalRelation` is
  * excluded in both runs, so a `Seq.toDF` frame reaches execution as a
  * projection instead of being folded by the optimizer (which would
  * evaluate it interpreted in both "modes"). Each run pins its plan:
  * the codegen run must project inside a `*(n) Project`, the
  * interpreted run must have no whole-stage stage at all. */
trait ModePairs { self: SparkSpec =>

  private val modes = Seq(
    "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def inMode[T](mode: String)(body: => T): T = {
    val confs = ("spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation") +:
      modes.toMap.apply(mode)
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def checkedPlan(mode: String, df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    if (mode == "codegen")
      assert("""\*\(\d+\) Project""".r.findFirstIn(plan).nonEmpty,
        s"codegen run projects outside whole-stage codegen:\n$plan")
    else assert(!plan.contains("*("),
      s"interpreted run still has a whole-stage stage:\n$plan")
  }

  /** `build`'s rows under each mode, in frame order. */
  def rowsInBothModes(build: => DataFrame): Seq[(String, Seq[Row])] =
    modes.map { case (mode, _) =>
      mode -> inMode(mode) {
        val df = build
        checkedPlan(mode, df)
        df.collect().toSeq
      }
    }

  /** Both modes must return exactly `expected`, row for row. */
  def assertBothModes(build: => DataFrame)(expected: Seq[Row]): Unit =
    rowsInBothModes(build).foreach { case (mode, rows) =>
      assert(rows === expected, s"mode=$mode")
    }

  /** Both modes must fail, each with a message (anywhere in the cause
    * chain) containing `message`. */
  def assertBothModesFail(build: => DataFrame)(message: String): Unit =
    modes.foreach { case (mode, _) =>
      inMode(mode) {
        val df = build
        checkedPlan(mode, df)
        val e = intercept[Exception](df.collect())
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Nil
          else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(msgs(e).exists(_.contains(message)),
          s"mode=$mode wrong failure: ${msgs(e).mkString(" | ")}")
      }
    }
}
