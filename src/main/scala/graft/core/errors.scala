package graft.core

/** Error ADT mirroring the reference's `UtilsError` surface
  * (reference `src/error.rs:15-58`). Message texts that the reference's
  * tests assert on are preserved verbatim (see
  * `graft.operators.ColumnAppend`,
  * `graft.operators.DataFrameOps.concatDfs`).
  */
sealed abstract class EngineError(message: String, cause: Throwable = null)
    extends RuntimeException(message, cause)

object EngineError {
  /** Plan-time / schema errors (analogue of DataFusion plan errors). */
  final case class AnalysisError(msg: String, cause: Throwable = null)
      extends EngineError(msg, cause)

  /** Runtime execution failures. */
  final case class ExecutionError(msg: String, cause: Throwable = null)
      extends EngineError(msg, cause)

  /** File/object-store IO failures. */
  final case class IoError(msg: String, cause: Throwable = null)
      extends EngineError(msg, cause)

  /** Catch-all, analogue of `UtilsError::UnexpectedError`. */
  final case class Unexpected(msg: String, cause: Throwable = null)
      extends EngineError(msg, cause)
}
