object Fixture {
  def a(): Int = {
    val x = 1
    val y = 2

    val z = x + y
    println(z)
    val w = z * 2
    w
  }
  def b(): Int = {
    val x = 1
    val y = 2
    val z = x + y
    println(z)
    val w = z * 2
    w
  }
  def c(): Int = 3
}
