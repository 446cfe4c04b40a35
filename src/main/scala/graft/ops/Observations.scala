package graft.ops

import java.util.concurrent.TimeoutException
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.Observation

/** The one bounded read of `observe()` metrics.
  *
  * An Observation's metrics arrive only if the observed node was part of
  * an executed plan, and they arrive through the listener bus, a little
  * after the action returns. `Observation.get` waits for them forever, so
  * a frame whose plan dropped the node (a `transform` that does not derive
  * its output from its input, a severed lineage) would hang the caller.
  * Every read waits on the observation's future instead: it wakes as soon
  * as the metrics land and gives up after [[Wait]].
  */
object Observations {

  /** Ample for listener-bus delivery after the observed action returned. */
  val Wait: FiniteDuration = 10.seconds

  /** Metrics of `obs`, or None when none arrived within [[Wait]]. */
  def within(obs: Observation): Option[Map[String, Any]] =
    try {
      val row = Await.result(obs.future, Wait)
      Some(row.getValuesMap[Any](row.schema.fieldNames.toSeq))
    } catch { case _: TimeoutException => None }

  /** Metrics of an observation on a frame the caller has just
    * materialized; `what` names the read in the error when none arrived.
    */
  def of(obs: Observation, what: String): Map[String, Any] =
    within(obs).getOrElse(throw new IllegalStateException(
      s"$what: no observed metrics within $Wait — the observed frame was not " +
        "part of an executed plan"))
}
