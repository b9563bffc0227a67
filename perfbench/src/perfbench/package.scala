package object perfbench {
  /** Evaluated after an op's clock stops: was its output right? */
  type Check = () => Boolean
  /** For ops whose output has no independently known answer. */
  val Unchecked: Check = () => true
}
