package org.apache.spark {

  /** The two listener-bus facts the benchmark needs that Spark keeps
    * package-private: waiting for queued events, and which listeners are
    * registered. */
  object LakebenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

    def listenerClasses(sc: SparkContext): Seq[String] =
      sc.listenerBus.listeners.toArray.map(_.getClass.getName).toSeq
  }

  package sql {

    /** The finished query execution a SQL execution-end event carries. */
    object LakebenchSql {
      def queryExecution(e: execution.ui.SparkListenerSQLExecutionEnd)
          : execution.QueryExecution = e.qe
    }
  }
}
