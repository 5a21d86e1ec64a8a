package vaero.state;

import java.util.ArrayList;
import java.util.Arrays;
import java.util.Collections;
import java.util.Iterator;
import java.util.List;
import java.util.Map;
import java.util.TreeMap;

import org.apache.spark.api.java.function.FlatMapGroupsWithStateFunction;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.streaming.GroupState;
import org.apache.spark.sql.streaming.GroupStateTimeout;
import org.apache.spark.sql.streaming.OutputMode;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;

/**
 * The keyed-state core of the streaming CEP operators: out-of-order sequence
 * reassembly of a conversation's turns around one pattern {@link Step}.
 *
 * <p>Turns wait in a pending buffer until the contiguous {@code turn_idx}
 * prefix reaches them (first arrival wins; consumed turns, late duplicates
 * and null {@code turn_idx} rows drop), so the step folds each newly
 * contiguous run exactly once and in order. One row goes out whenever the
 * prefix advances. Turn indexes are assumed 0-based and contiguous per
 * conversation (the canonical transcripts derivation guarantees it). An idle conversation's state is removed, emitting
 * nothing, once the watermark passes its last event time plus the idle
 * horizon.
 *
 * <p>Stored, in order: {@code next_idx} (the next contiguous turn expected),
 * {@code pend_idx}, {@code pend_sym} and, for a timed step, {@code pend_ms}
 * (the pending turns), the step's fields, then {@code last_us} (the latest
 * non-null event time). List fields are {@code binary}, packed as
 * little-endian int64 with {@code Long.MIN_VALUE} for a null element, as
 * {@code operators/state.pack_longs} packs them: an {@code array} field would
 * make Spark compile the state encoders again in every micro-batch.
 *
 * <p>Input rows are {@code conv_id, turn_idx (bigint), sym (one character),
 * ts, us (bigint)}, with {@code us} the event time in microseconds, computed in SQL.
 */
public final class Reassembly implements FlatMapGroupsWithStateFunction<String, Row, Row, Row> {
  private static final String[] INPUT = {"conv_id", "turn_idx", "sym", "ts", "us"};
  private static final int IDX = 1;
  private static final int SYM = 2;
  private static final int US = 4;

  private final Step step;
  private final long horizonS;
  private final int head;
  private final StructType layout;

  /** {@code step} (kleene, absence, within or absence_time) with its {@code args}. */
  public Reassembly(String step, List<?> args, long idleTimeoutSeconds) {
    this.step = Step.of(step, args);
    this.horizonS = idleTimeoutSeconds;
    List<StructField> fields = new ArrayList<>(List.of(
        Step.field("next_idx", DataTypes.LongType),
        Step.field("pend_idx", Step.LONGS),
        Step.field("pend_sym", DataTypes.StringType)));
    if (this.step.timed) {
      fields.add(Step.field("pend_ms", Step.LONGS));
    }
    this.head = fields.size();
    fields.addAll(Arrays.asList(this.step.fields));
    fields.add(Step.field("last_us", DataTypes.LongType));
    this.layout = DataTypes.createStructType(fields);
  }

  /**
   * The operator over {@code turns}, which carries an event-time watermark:
   * one {@code flatMapGroupsWithState} per conversation, update mode.
   */
  public static Dataset<Row> stream(
      Dataset<Row> turns, String step, List<?> args, long idleTimeoutSeconds) {
    if (!Arrays.equals(turns.columns(), INPUT)) {
      throw new IllegalArgumentException(
          "CEP input columns must be " + Arrays.toString(INPUT) + ", got "
              + Arrays.toString(turns.columns()));
    }
    Reassembly fn = new Reassembly(step, args, idleTimeoutSeconds);
    return turns.groupBy("conv_id")
        .as(Encoders.STRING(), Encoders.row(turns.schema()))
        .flatMapGroupsWithState(fn, OutputMode.Update(), Encoders.row(fn.layout),
            Encoders.row(fn.step.output), GroupStateTimeout.EventTimeTimeout());
  }

  /** The stored layout of one key's state. */
  public StructType layout() {
    return layout;
  }

  /** The output schema. */
  public StructType output() {
    return step.output;
  }

  @Override
  public Iterator<Row> call(String key, Iterator<Row> rows, GroupState<Row> state) {
    if (state.hasTimedOut()) {
      state.remove();
      return Collections.emptyIterator();
    }
    Row stored = state.exists() ? state.get() : null;
    long nextIdx = Step.lng(stored, 0, 0);
    long lastUs = stored == null ? 0 : Step.lng(stored, stored.size() - 1, 0);
    TreeMap<Long, long[]> pend = new TreeMap<>(); // turn -> {symbol, ms}
    long[] pendIdx = Step.longs(stored, 1);
    String pendSym = Step.str(stored, 2);
    long[] pendMs = step.timed ? Step.longs(stored, 3) : null;
    for (int j = 0; j < pendIdx.length; j++) {
      pend.put(pendIdx[j], new long[] {pendSym.charAt(j), step.timed ? pendMs[j] : Step.NULL});
    }
    Step.Acc acc = step.open(stored, head);

    while (rows.hasNext()) {
      Row r = rows.next();
      long us = r.isNullAt(US) ? Step.NULL : r.getLong(US);
      if (us != Step.NULL) {
        lastUs = Math.max(lastUs, us);
      }
      if (r.isNullAt(IDX) || r.getLong(IDX) < nextIdx) {
        continue;
      }
      long ms = step.timed && us != Step.NULL ? Math.floorDiv(us, 1000L) : Step.NULL;
      pend.putIfAbsent(r.getLong(IDX), new long[] {r.getString(SYM).charAt(0), ms});
    }

    long start = nextIdx;
    StringBuilder run = new StringBuilder();
    long[] runMs = new long[pend.size()];
    for (Map.Entry<Long, long[]> e = pend.firstEntry(); e != null && e.getKey() == nextIdx;
        e = pend.firstEntry()) {
      pend.pollFirstEntry();
      runMs[run.length()] = e.getValue()[1];
      run.append((char) e.getValue()[0]);
      nextIdx++;
    }
    List<Row> out = Collections.emptyList();
    if (run.length() > 0) {
      acc.fold(start, run.toString(), Arrays.copyOf(runMs, run.length()));
      Object[] cols = acc.emit(nextIdx);
      Object[] row = new Object[2 + cols.length];
      row[0] = key;
      row[1] = nextIdx;
      System.arraycopy(cols, 0, row, 2, cols.length);
      out = Collections.singletonList(RowFactory.create(row));
    }

    Object[] fields = acc.store();
    Object[] value = new Object[head + fields.length + 1];
    long[] idxs = new long[pend.size()];
    long[] mss = new long[pend.size()];
    StringBuilder syms = new StringBuilder();
    for (Map.Entry<Long, long[]> e : pend.entrySet()) {
      mss[syms.length()] = e.getValue()[1];
      idxs[syms.length()] = e.getKey();
      syms.append((char) e.getValue()[0]);
    }
    value[0] = nextIdx;
    value[1] = Step.pack(idxs, idxs.length);
    value[2] = syms.toString();
    if (step.timed) {
      value[3] = Step.pack(mss, mss.length);
    }
    System.arraycopy(fields, 0, value, head, fields.length);
    value[value.length - 1] = lastUs;
    state.update(RowFactory.create(value));
    // never armed without an event time: max(1970 + horizon, wm + 1) would
    // expire the key on the next batch
    if (lastUs != 0) {
      long deadlineMs = -Math.floorDiv(-(lastUs + horizonS * 1_000_000L), 1000L);
      state.setTimeoutTimestamp(Math.max(deadlineMs, state.getCurrentWatermarkMs() + 1));
    }
    return out.iterator();
  }
}
