package sparkgraft;

import java.util.Collections;
import java.util.Iterator;

import org.apache.spark.api.java.function.FlatMapGroupsWithStateFunction;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.streaming.GroupState;
import org.apache.spark.sql.streaming.GroupStateTimeout;
import org.apache.spark.sql.streaming.OutputMode;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.StructType;

/** The edge-trigger state machine (KafkaProducer.java:35-40) over per-NIC
 * totals: the key's sum over the micro-batch is an alert when it exceeds
 * maxLimit; the first observation and every flip of the stored flag emit
 * one alert row, a repeat emits nothing. With ttlMs >= 0 a key silent that
 * long is removed, emitting nothing. */
public final class EdgeTrigger implements FlatMapGroupsWithStateFunction<String, Row, Boolean, Row> {
  private final double maxLimit;
  private final long ttlMs;
  private final String alertMsg, infoMsg;

  private EdgeTrigger(double maxLimit, long ttlMs, String alertMsg, String infoMsg) {
    this.maxLimit = maxLimit;
    this.ttlMs = ttlMs;
    this.alertMsg = alertMsg;
    this.infoMsg = infoMsg;
  }

  @Override
  public Iterator<Row> call(String nif, Iterator<Row> rows, GroupState<Boolean> state) {
    if (state.hasTimedOut()) {
      state.remove();
      return Collections.emptyIterator();
    }
    double total = 0.0;
    while (rows.hasNext()) {
      Row r = rows.next();
      if (!r.isNullAt(1)) total += r.getDouble(1);
    }
    boolean isAlert = total > maxLimit;
    Boolean prev = state.exists() ? state.get() : null;
    state.update(isAlert);
    if (ttlMs >= 0) state.setTimeoutDuration(ttlMs);
    if (prev != null && prev == isAlert) return Collections.emptyIterator();
    return Collections.singletonList(
        RowFactory.create(nif, total, isAlert, isAlert ? alertMsg : infoMsg)).iterator();
  }

  /** Alert rows (schema alertSchemaJson) of totals, a stream of
   * (nif string, total_bytes double) rows. */
  public static Dataset<Row> apply(Dataset<Row> totals, double maxLimit, long ttlMs,
      String alertMsg, String infoMsg, String alertSchemaJson) {
    StructType schema = (StructType) DataType.fromJson(alertSchemaJson);
    return totals.groupBy("nif").as(Encoders.STRING(), Encoders.row(totals.schema()))
        .flatMapGroupsWithState(new EdgeTrigger(maxLimit, ttlMs, alertMsg, infoMsg),
            OutputMode.Append(), Encoders.BOOLEAN(), Encoders.row(schema),
            ttlMs >= 0 ? GroupStateTimeout.ProcessingTimeTimeout() : GroupStateTimeout.NoTimeout());
  }
}
