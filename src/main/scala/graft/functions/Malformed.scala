package graft.functions

/** Thrown by the binary decoders (GIF, PDF, archive and JPEG) for any
  * malformed or out-of-profile byte, and caught once per decode, where it
  * becomes the null result. Stackless: a corpus of broken files costs no
  * stack traces. */
private[functions] final class Malformed
    extends Exception(null, null, false, false)

private[functions] object Malformed {
  def fail(): Nothing = throw new Malformed
}
