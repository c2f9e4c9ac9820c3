package graft.model

/** CLARITE-style per-variable kind, layered on top of Spark physical types.
  *
  * Mirrors the reference's type tags computed by `_get_dtype`
  * (reference: clarite/internal/utilities.py:93-160):
  *   - Constant: categorical with exactly 1 level
  *   - Binary: categorical with exactly 2 levels
  *   - Categorical: categorical with >2 levels
  *   - Continuous: numeric
  *   - Genotype: genotype extension dtype (here: a struct/dosage column)
  *   - Unknown: anything else (raw strings etc.)
  */
sealed abstract class VariableType(val name: String) extends Serializable {
  override def toString: String = name
}

object VariableType {
  case object Constant    extends VariableType("constant")
  case object Binary      extends VariableType("binary")
  case object Categorical extends VariableType("categorical")
  case object Continuous  extends VariableType("continuous")
  case object Genotype    extends VariableType("genotypes")
  case object Unknown     extends VariableType("unknown")

  val all: Seq[VariableType] =
    Seq(Constant, Binary, Categorical, Continuous, Genotype, Unknown)

  def fromString(s: String): VariableType =
    all.find(_.name == s).getOrElse(
      throw new IllegalArgumentException(s"unknown variable type: $s"))
}
