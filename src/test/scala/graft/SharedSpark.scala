package graft

import org.apache.spark.sql.SparkSession

import graft.core.Session

/** The specs' session: the benched configuration. `Test / fork` runs every
  * spec in one JVM and `getOrCreate` hands all of them the first session
  * built, so one shared definition is what every spec gets anyway. A spec
  * that needs a runtime setting sets it itself.
  */
trait SharedSpark {
  protected lazy val spark: SparkSession = Session.local(Session.cpus)
}
