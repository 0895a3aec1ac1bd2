package storm_bench_spark.jvm;

import java.util.Collections;
import java.util.Iterator;

import org.apache.spark.api.java.function.FlatMapGroupsWithStateFunction;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Encoder;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.streaming.GroupState;
import org.apache.spark.sql.streaming.GroupStateTimeout;
import org.apache.spark.sql.streaming.OutputMode;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructType;

/**
 * Per-key cumulative count as arbitrary keyed state, run inside the
 * engine's own stateful operator: WordCount.Count's unwindowed HashMap
 * (WordCount.java:74-100) with one {@code Long} of state per key and one
 * {@code (key, cnt)} row per key per micro-batch. A null key is a group
 * of its own.
 */
public final class RunningCount
    implements FlatMapGroupsWithStateFunction<String, Row, Long, Row> {

  public static final StructType OUTPUT = new StructType()
      .add("key", DataTypes.StringType)
      .add("cnt", DataTypes.LongType);

  /** {@code keyed} has one string column {@code key}; append mode, no timeout. */
  public static Dataset<Row> apply(Dataset<Row> keyed) {
    Encoder<Row> rows = Encoders.row(keyed.schema());
    return keyed.groupBy(keyed.col("key"))
        .as(Encoders.STRING(), rows)
        .flatMapGroupsWithState(new RunningCount(), OutputMode.Append(),
            Encoders.LONG(), Encoders.row(OUTPUT), GroupStateTimeout.NoTimeout());
  }

  @Override
  public Iterator<Row> call(String key, Iterator<Row> values, GroupState<Long> state) {
    long total = state.exists() ? state.get() : 0L;
    while (values.hasNext()) {
      values.next();
      total++;
    }
    state.update(total);
    return Collections.singletonList(RowFactory.create(key, total)).iterator();
  }
}
