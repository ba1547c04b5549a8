package graft.operators

import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** Checkpoints that live for one call. Inside `Pins.scope { pins => … }`,
  * `pins(df)` is `df.localCheckpoint()` and `pins.own(df)` adopts every
  * checkpoint `df` reads, so it suits only frames that read nothing the
  * caller pinned; all of them are freed when the body returns or
  * throws. For calls whose result reads no pin, such as store writers,
  * whose output is the files they commit. */
private[graft] final class Pins private {
  private val held = mutable.ArrayBuffer.empty[DataFrame]

  def apply(df: DataFrame): DataFrame = own(df.localCheckpoint())

  def own(df: DataFrame): DataFrame = { held += df; df }
}

private[graft] object Pins {
  def scope[T](body: Pins => T): T = {
    val pins = new Pins
    try body(pins) finally pins.held.foreach(IndexBuild.freeCheckpoint)
  }
}
