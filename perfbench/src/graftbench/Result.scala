package graftbench

import scala.collection.mutable

/** What one run reports: the output check, and every metric it measured by
 * name. `perfbench/run.py` keeps the ones `BENCHMARK.json` lists for the
 * requested mode and attaches their units. */
final class Result {
  var correct = true
  var attempted = 0L
  var failed = 0L
  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def update(name: String, value: Double): Unit = metrics(name) = value

  def toJson: String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":""" +
      metrics.map { case (k, v) => Stats.jsonString(k) + ":" + Stats.jsonNumber(v) }
        .mkString("{", ",", "}") + "}"
}
