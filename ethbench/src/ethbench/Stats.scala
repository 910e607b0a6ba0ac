package ethbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The mapper every JSON file the benchmark reads or writes goes through;
  * it takes Scala maps and sequences as they are. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, quantile): the (n-10)-th smallest of n samples. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val k = math.max(1, s.size - 10)
    (s(k - 1), k.toDouble / s.size)
  }
}
