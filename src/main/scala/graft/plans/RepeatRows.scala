package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{StructField, StructType}

/** `RepeatRows(n, c1, …, ck)`: the row (c1, …, ck), n times (none when
  * the BIGINT n is NULL or below 1), columns `col0 … col{k-1}`. The multiset
  * replication step of `SnapTable.diff`, with the signature of Spark's
  * `ReplicateRows` (the generator `RewriteExceptAll` plans), but
  * streaming: `ReplicateRows` maps a `Range` and so builds all n rows
  * before the first is consumed, where this hands out one row n times
  * from an iterator, so a task holds one row however often it repeats. */
case class RepeatRows(children: Seq[Expression])
    extends Generator with CodegenFallback {
  override def elementSchema: StructType = StructType(
    children.tail.zipWithIndex.map { case (e, i) =>
      StructField(s"col$i", e.dataType, e.nullable)
    })

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val n = children.head.eval(input)
    if (n == null) Iterator.empty
    else {
      val row = InternalRow.fromSeq(children.tail.map(_.eval(input)))
      new Iterator[InternalRow] {
        private var left = n.asInstanceOf[Long]
        override def hasNext: Boolean = left > 0
        override def next(): InternalRow = { left -= 1; row }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RepeatRows = copy(children = newChildren)
}
