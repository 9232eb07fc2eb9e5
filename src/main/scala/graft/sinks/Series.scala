package graft.sinks

/** One output series on the regular grid: `values(i)` is the bucket at
  * `start + i*step`; NaN marks an absent point (the reference's
  * sentinel, `helper/point/func.go:100,111`). Built by
  * `engine.SeriesAssembly`, encoded by the wire sinks.
  */
final case class Series(
    name: String,
    pathExpression: String,
    function: String,
    start: Long,
    stop: Long,
    step: Long,
    values: Array[Double])
