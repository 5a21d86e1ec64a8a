package vaero.state;

import java.io.Serializable;
import java.nio.ByteBuffer;
import java.nio.ByteOrder;
import java.util.ArrayDeque;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.Collection;
import java.util.List;
import java.util.regex.Matcher;
import java.util.regex.Pattern;

import org.apache.spark.sql.Row;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;

/**
 * A pattern step of {@link Reassembly}: it folds each newly contiguous run of
 * turns, {@code (start, symbols, event-time ms)}, into its accumulator exactly
 * once and in turn order, and gives the output columns after
 * {@code conv_id, n_turns}.
 */
abstract class Step implements Serializable {
  /** A stored list of int64: little-endian, {@link #NULL} for a null element. */
  static final DataType LONGS = DataTypes.BinaryType;
  static final long NULL = Long.MIN_VALUE;

  /** The output schema: {@code conv_id, n_turns}, then the step's columns. */
  final StructType output;
  /** Whether the step reads event time, so pending turns keep their ms. */
  final boolean timed;
  /** The accumulator's stored fields. */
  final StructField[] fields;

  Step(boolean timed, String[] columns, StructField... fields) {
    List<StructField> out = new ArrayList<>(
        List.of(field("conv_id", DataTypes.StringType), field("n_turns", DataTypes.LongType)));
    for (String c : columns) {
      out.add(field(c, DataTypes.LongType));
    }
    this.output = DataTypes.createStructType(out);
    this.timed = timed;
    this.fields = fields;
  }

  /** One key's accumulator. */
  interface Acc {
    /** Fold the run of turns {@code start, start + 1, ...}; {@code ms[i]} is {@link #NULL} when untimed or null. */
    void fold(long start, String syms, long[] ms);

    /** The output columns after {@code conv_id, n_turns} for a prefix of {@code nTurns} turns. */
    Object[] emit(long nTurns);

    /** The stored fields, in {@link #fields} order. */
    Object[] store();
  }

  /** The accumulator stored in {@code state} from field {@code at} on; a new key's when {@code state} is null. */
  abstract Acc open(Row state, int at);

  static Step of(String name, List<?> args) {
    switch (name) {
      case "kleene":
        return new Kleene((String) args.get(0), Math.toIntExact(num(args, 1)),
            Math.toIntExact(num(args, 2)));
      case "absence":
        return new Absence(sym(args, 0), sym(args, 1), num(args, 2));
      case "within":
        return new Within((String) args.get(0), num(args, 1));
      case "absence_time":
        return new AbsenceTime(sym(args, 0), sym(args, 1), num(args, 2));
      default:
        throw new IllegalArgumentException("unknown CEP step: " + name);
    }
  }

  /** A number py4j passed as an Integer or a Long. */
  private static long num(List<?> args, int i) {
    return ((Number) args.get(i)).longValue();
  }

  private static char sym(List<?> args, int i) {
    String s = (String) args.get(i);
    if (s.length() != 1) {
      throw new IllegalArgumentException("a role symbol is one character, got '" + s + "'");
    }
    return s.charAt(0);
  }

  static StructField field(String name, DataType type) {
    return DataTypes.createStructField(name, type, true);
  }

  // -- stored fields: a null reads as a new key's value --------------------

  static long lng(Row r, int i, long init) {
    return r == null || r.isNullAt(i) ? init : r.getLong(i);
  }

  static String str(Row r, int i) {
    return r == null || r.isNullAt(i) ? "" : r.getString(i);
  }

  static long[] longs(Row r, int i) {
    if (r == null || r.isNullAt(i)) {
      return new long[0];
    }
    ByteBuffer b = ByteBuffer.wrap((byte[]) r.get(i)).order(ByteOrder.LITTLE_ENDIAN);
    long[] out = new long[b.remaining() / 8];
    for (int j = 0; j < out.length; j++) {
      out[j] = b.getLong();
    }
    return out;
  }

  static byte[] pack(long[] values, int n) {
    ByteBuffer b = ByteBuffer.allocate(8 * n).order(ByteOrder.LITTLE_ENDIAN);
    for (int j = 0; j < n; j++) {
      b.putLong(values[j]);
    }
    return b.array();
  }

  static byte[] pack(Collection<Long> values) {
    ByteBuffer b = ByteBuffer.allocate(8 * values.size()).order(ByteOrder.LITTLE_ENDIAN);
    for (long v : values) {
      b.putLong(v);
    }
    return b.array();
  }

  /**
   * Earliest-completion (leftmost, shortest, non-overlapping) count of a
   * pattern whose matches are {@code lMin..lMax} symbols long. A literal is
   * the case {@code lMin == lMax}: its carry is then always shorter than the
   * literal and its end-of-stream tail is empty.
   */
  static final class Kleene extends Step {
    final Pattern rx;
    final int lMin;
    final int lMax;

    Kleene(String pattern, int lMin, int lMax) {
      // carry = the consumed suffix from the first unsettled position on
      super(false, new String[] {"n_matches", "first_match_turn"},
          field("carry", DataTypes.StringType),
          field("n_matches", DataTypes.LongType),
          field("first_match", DataTypes.LongType));
      this.rx = Pattern.compile(pattern);
      this.lMin = lMin;
      this.lMax = lMax;
    }

    /**
     * Leftmost earliest-completion scan of {@code s}, whose first symbol is
     * turn {@code sAbs}: {stop position, matches, first match turn}. Unless
     * {@code last}, it settles only what no later input can change: a found
     * (shortest) match, and a no-match with at least {@code lMax} symbols
     * after it. It stops at the first unsettled position.
     */
    long[] scan(String s, long sAbs, boolean last) {
      Matcher m = rx.matcher(s);
      int p = 0;
      int n = s.length();
      long count = 0;
      long first = -1;
      while (p < n) {
        int hit = shortest(m, p, n);
        if (hit > 0) {
          count++;
          if (first < 0) {
            first = sAbs + p;
          }
          p += hit;
        } else if (last || n - p >= lMax) {
          p++;
        } else {
          break;
        }
      }
      return new long[] {p, count, first};
    }

    /** Length of the shortest match at {@code p} over what is available, or 0. */
    private int shortest(Matcher m, int p, int n) {
      for (int len = lMin; len <= Math.min(lMax, n - p); len++) {
        if (m.region(p, p + len).matches()) {
          return len;
        }
      }
      return 0;
    }

    @Override
    Acc open(Row state, int at) {
      return new Acc() {
        String carry = str(state, at);
        long nMatches = lng(state, at + 1, 0);
        long firstMatch = lng(state, at + 2, -1);

        @Override
        public void fold(long start, String syms, long[] ms) {
          String seq = carry + syms;
          long[] r = scan(seq, start - carry.length(), false);
          carry = seq.substring((int) r[0]);
          nMatches += r[1];
          firstMatch = firstMatch >= 0 ? firstMatch : r[2];
        }

        @Override
        public Object[] emit(long nTurns) {
          // settled + an end-of-stream scan of the carry == the batch scan
          // of the prefix seen so far
          long[] r = scan(carry, nTurns - carry.length(), true);
          return new Object[] {nMatches + r[1], firstMatch >= 0 ? firstMatch : r[2]};
        }

        @Override
        public Object[] store() {
          return new Object[] {carry, nMatches, firstMatch};
        }
      };
    }
  }

  /** Count-based absence: a trigger is dangling when none of the {@code limit} turns after it is a response. */
  static class Absence extends Step {
    final char trig;
    final char resp;
    final long limit;

    Absence(char trig, char resp, long limit) {
      // open_idx = triggers still awaiting a response, at most limit + 1
      this(false, trig, resp, limit, field("open_idx", LONGS));
    }

    Absence(boolean timed, char trig, char resp, long limit, StructField... open) {
      super(timed, new String[] {"n_triggers", "n_dangling", "first_dangling_turn"},
          concat(open, field("n_triggers", DataTypes.LongType),
              field("n_dangling", DataTypes.LongType),
              field("first_dangling", DataTypes.LongType)));
      this.trig = trig;
      this.resp = resp;
      this.limit = limit;
    }

    private static StructField[] concat(StructField[] head, StructField... tail) {
      StructField[] out = Arrays.copyOf(head, head.length + tail.length);
      System.arraycopy(tail, 0, out, head.length, tail.length);
      return out;
    }

    /** Open triggers count as dangling at the end of the prefix seen so far. */
    static Object[] emit(long nTrig, long nDang, long firstDang, long[] open, int nOpen) {
      long first = firstDang;
      for (int j = 0; j < nOpen; j++) {
        if (open[j] >= 0 && (first < 0 || open[j] < first)) {
          first = open[j];
        }
      }
      return new Object[] {nTrig, nDang + nOpen, first};
    }

    @Override
    Acc open(Row state, int at) {
      return new Acc() {
        final ArrayDeque<Long> open = new ArrayDeque<>();
        long nTrig = lng(state, at + 1, 0);
        long nDang = lng(state, at + 2, 0);
        long firstDang = lng(state, at + 3, -1);

        {
          for (long t : longs(state, at)) {
            open.add(t);
          }
        }

        @Override
        public void fold(long start, String syms, long[] ms) {
          for (int j = 0; j < syms.length(); j++) {
            long idx = start + j;
            char s = syms.charAt(j);
            // a trigger whose k turns are all seen with no response is
            // dangling, final
            while (!open.isEmpty() && idx - open.peekFirst() > limit) {
              long t = open.pollFirst();
              nDang++;
              if (firstDang < 0) {
                firstDang = t;
              }
            }
            if (s == resp) {
              open.clear();
            }
            if (s == trig) {
              nTrig++;
              open.add(idx);
            }
          }
        }

        @Override
        public Object[] emit(long nTurns) {
          long[] o = open.stream().mapToLong(Long::longValue).toArray();
          return Absence.emit(nTrig, nDang, firstDang, o, o.length);
        }

        @Override
        public Object[] store() {
          return new Object[] {pack(open), nTrig, nDang, firstDang};
        }
      };
    }
  }

  /**
   * Time-based absence: a trigger is dangling when no later response comes
   * within {@code limit} ms of it. A null-time response answers nothing, and
   * a null-time trigger never expires by time: it stays open until a timed
   * response answers it. Assumes event time non-decreasing in turn order.
   */
  static final class AbsenceTime extends Absence {
    AbsenceTime(char trig, char resp, long limit) {
      super(true, trig, resp, limit, field("open_idx", LONGS), field("open_ms", LONGS));
    }

    @Override
    Acc open(Row state, int at) {
      return new Acc() {
        long[] idxs = longs(state, at);
        long[] mss = longs(state, at + 1);
        int nOpen = idxs.length;
        long nTrig = lng(state, at + 2, 0);
        long nDang = lng(state, at + 3, 0);
        long firstDang = lng(state, at + 4, -1);

        @Override
        public void fold(long start, String syms, long[] ms) {
          for (int j = 0; j < syms.length(); j++) {
            long m = ms[j];
            char s = syms.charAt(j);
            if (m != NULL) {
              // once this turn is past a trigger's deadline, its whole wait
              // window was seen unanswered: dangling, final
              int kept = 0;
              for (int o = 0; o < nOpen; o++) {
                if (mss[o] != NULL && m - mss[o] > limit) {
                  nDang++;
                  if (firstDang < 0) {
                    firstDang = idxs[o];
                  }
                } else {
                  idxs[kept] = idxs[o];
                  mss[kept++] = mss[o];
                }
              }
              nOpen = kept;
              if (s == resp) {
                nOpen = 0;
              }
            }
            if (s == trig) {
              nTrig++;
              if (nOpen == idxs.length) {
                idxs = Arrays.copyOf(idxs, 2 * nOpen + 1);
                mss = Arrays.copyOf(mss, 2 * nOpen + 1);
              }
              idxs[nOpen] = start + j;
              mss[nOpen++] = m;
            }
          }
        }

        @Override
        public Object[] emit(long nTurns) {
          return Absence.emit(nTrig, nDang, firstDang, idxs, nOpen);
        }

        @Override
        public Object[] store() {
          return new Object[] {pack(idxs, nOpen), pack(mss, nOpen), nTrig, nDang, firstDang};
        }
      };
    }
  }

  /** Sliding {@code literal} windows whose last turn is at most {@code maxSpanMs} after their first. */
  static final class Within extends Step {
    final String literal;
    final long maxSpanMs;

    Within(String literal, long maxSpanMs) {
      // carry_* = the last len(literal) - 1 consumed turns: the only
      // lookbehind a window ending at the next turn needs
      super(true, new String[] {"n_within", "first_within_turn"},
          field("carry_sym", DataTypes.StringType),
          field("carry_ms", LONGS),
          field("n_within", DataTypes.LongType),
          field("first_within", DataTypes.LongType));
      this.literal = literal;
      this.maxSpanMs = maxSpanMs;
    }

    @Override
    Acc open(Row state, int at) {
      return new Acc() {
        String carrySym = str(state, at);
        long[] carryMs = longs(state, at + 1);
        long nWithin = lng(state, at + 2, 0);
        long firstWithin = lng(state, at + 3, -1);

        @Override
        public void fold(long start, String syms, long[] ms) {
          String seq = carrySym + syms;
          long[] all = Arrays.copyOf(carryMs, carryMs.length + ms.length);
          System.arraycopy(ms, 0, all, carryMs.length, ms.length);
          long base = start - carrySym.length();
          int tail = literal.length() - 1;
          // a sliding start settles the moment its window completes; a
          // null end is no hit, as in the batch lead chain
          for (int p = 0; p < seq.length() - tail; p++) {
            long t0 = all[p];
            long t1 = all[p + tail];
            if (seq.startsWith(literal, p) && t0 != NULL && t1 != NULL && t1 - t0 <= maxSpanMs) {
              nWithin++;
              if (firstWithin < 0) {
                firstWithin = base + p;
              }
            }
          }
          int keep = Math.max(0, seq.length() - tail);
          carrySym = seq.substring(keep);
          carryMs = Arrays.copyOfRange(all, keep, all.length);
        }

        @Override
        public Object[] emit(long nTurns) {
          return new Object[] {nWithin, firstWithin};
        }

        @Override
        public Object[] store() {
          return new Object[] {carrySym, pack(carryMs, carryMs.length), nWithin, firstWithin};
        }
      };
    }
  }
}
