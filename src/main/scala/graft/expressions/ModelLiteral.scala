package graft.expressions

/** The one serialize/deserialize pair of the fused kernels' model
  * artifacts ([[IvfPrunedIndex]], [[LshPlanesModel]], [[PqModel]]): Java
  * serialization into the foldable binary literal a kernel deserializes
  * once per task. The bytes print in the query plan, so each model class
  * pins its `SerialVersionUID`: adding or removing a method must not
  * change the literal (and with it every plan that carries it). */
object ModelLiteral {

  def serialize(model: java.io.Serializable): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(model); oos.close()
    bos.toByteArray
  }

  /** `literal` (a kernel's evaluated first child) as a `T`; `fn` names the
    * kernel in the error. */
  def deserialize[T](literal: Any, fn: String)(implicit t: scala.reflect.ClassTag[T]): T = {
    val bytes = literal.asInstanceOf[Array[Byte]]
    val ois = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try t.runtimeClass.cast(ois.readObject()).asInstanceOf[T]
    catch {
      case e: Exception => throw new IllegalArgumentException(
        s"$fn: cannot deserialize the ${bytes.length}-byte model literal", e)
    } finally ois.close()
  }
}
