package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {

  /** A catalog query body: builds the graded DataFrame for a
    * scale-factor directory.
    */
  type Q = (SparkSession, String) => DataFrame
}
