// Accessors for package-private members the benchmark reads; each lives
// in the package whose members it exposes.
package org.apache.spark.perfbench {
  object ListenerBus {
    /** Block until every posted listener event has been delivered. */
    def drain(sc: org.apache.spark.SparkContext): Unit =
      sc.listenerBus.waitUntilEmpty()
  }
}

package graft.operators.perfbench {
  object ReplaySql {
    /** The DuckDB replay oracles of the two ETL pipelines. */
    def tracking: String = graft.operators.EtlQueries.trackingReplaySql
    def events: String = graft.operators.EtlQueries.eventsReplaySql
  }
}
