package org.apache.spark

import org.apache.hadoop.conf.Configuration

/** The Hadoop configuration a SparkContext starts with for `conf`
  * (`SparkContext.hadoopConfiguration`), which tests cannot build
  * otherwise without starting a second context. */
object GraftContextConf {
  def apply(conf: SparkConf): Configuration =
    deploy.SparkHadoopUtil.newConfiguration(conf)
}
