package graft.functions

import org.apache.spark.sql.SparkSession

/** The two evaluation paths a native kernel must agree on: generated code
  * only (whole-stage and expression codegen) and interpreted only. Codegen
  * fallback is off in both, so a compile failure fails the spec instead of
  * silently running the interpreted path. Set on sessions of their own
  * (`newSession`), never on the shared spec session. */
object CodegenModes {

  val all: Seq[Boolean] = Seq(true, false)

  def set(s: SparkSession, codegen: Boolean): Unit = {
    s.conf.set("spark.sql.codegen.factoryMode",
      if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
    s.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
    s.conf.set("spark.sql.codegen.fallback", "false")
  }

  def name(codegen: Boolean): String = if (codegen) "codegen" else "interpreted"
}
