package qev.kernels;

import java.nio.ByteBuffer;
import java.util.Arrays;
import java.util.function.Function;

import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.api.java.UDF2;
import scala.collection.Seq;

/**
 * The engine's vector folds as compiled Spark SQL functions, registered by
 * functions/kernels.py. Each is the left-to-right loop of the SQL fold it
 * replaces (tests/test_vector_functions.py keeps that fold text as the spec
 * and compares every kernel with it bit for bit):
 *
 * <ul>
 *   <li>an element is cast to double exactly (float widens losslessly), and
 *       each sum starts at 0.0 and adds term by term in index order;
 *   <li>a NULL array, a NULL element or a length mismatch gives NULL;
 *   <li>cosine is NULL when norm(a) * norm(b) is 0.
 * </ul>
 *
 * <p>An operand is either an array column, which arrives as a Scala Seq of
 * boxed numbers, or a constant vector written as a binary literal of
 * big-endian binary64 values. A literal is the same byte[] object on every
 * row of a task, so it is decoded (and, for cosine, its norm folded) once
 * per task and kept in a small identity cache.
 */
public final class VectorKernels {
  private VectorKernels() {}

  /** A decoded literal vector and its norm. */
  static final class Literal {
    final double[] v;
    final double norm;

    Literal(double[] v) {
      this.v = v;
      this.norm = norm(v);
    }
  }

  /** Identity cache of decoded binary literals, safe to share between threads. */
  static final class LiteralCache<T> {
    private static final int MAX_ENTRIES = 16;
    // key0, value0, key1, value1, ...; replaced whole, never mutated
    private volatile Object[] entries = new Object[0];

    @SuppressWarnings("unchecked")
    T get(byte[] key, Function<byte[], T> decode) {
      Object[] es = entries;
      for (int i = 0; i < es.length; i += 2) {
        if (es[i] == key) {
          return (T) es[i + 1];
        }
      }
      T value = decode.apply(key);
      Object[] grown =
          es.length >= 2 * MAX_ENTRIES ? new Object[2] : Arrays.copyOf(es, es.length + 2);
      grown[grown.length - 2] = key;
      grown[grown.length - 1] = value;
      entries = grown;
      return value;
    }
  }

  /** Base of the vector kernels: operand decoding and the literal cache. */
  abstract static class Kernel {
    private transient LiteralCache<Literal> literals;

    final Literal literal(byte[] bytes) {
      LiteralCache<Literal> c = literals;
      if (c == null) {
        literals = c = new LiteralCache<>();
      }
      return c.get(bytes, b -> new Literal(decode(b, 0)));
    }

    /** The operand as doubles, or null for a NULL array or a NULL element. */
    final double[] vector(Object x) {
      if (x == null) {
        return null;
      }
      if (x instanceof byte[]) {
        return literal((byte[]) x).v;
      }
      return column((Seq<?>) x);
    }

    /** The operand's norm; {@code v} is {@code vector(x)}, not null. */
    final double normOf(Object x, double[] v) {
      return x instanceof byte[] ? literal((byte[]) x).norm : norm(v);
    }
  }

  static double[] decode(byte[] bytes, int offset) {
    if ((bytes.length - offset) % 8 != 0) {
      throw new IllegalArgumentException(
          "vector literal of " + (bytes.length - offset) + " bytes is not a binary64 array");
    }
    double[] out = new double[(bytes.length - offset) / 8];
    ByteBuffer buf = ByteBuffer.wrap(bytes);
    for (int i = 0; i < out.length; i++) {
      out[i] = buf.getDouble(offset + 8 * i);
    }
    return out;
  }

  static double[] column(Seq<?> s) {
    int n = s.length();
    double[] out = new double[n];
    for (int i = 0; i < n; i++) {
      Object x = s.apply(i);
      if (x == null) {
        return null;
      }
      out[i] = ((Number) x).doubleValue();
    }
    return out;
  }

  static double dot(double[] a, double[] b) {
    double acc = 0.0;
    for (int i = 0; i < a.length; i++) {
      acc = acc + a[i] * b[i];
    }
    return acc;
  }

  static double norm(double[] a) {
    double acc = 0.0;
    for (int i = 0; i < a.length; i++) {
      acc = acc + a[i] * a[i];
    }
    return Math.sqrt(acc);
  }

  /** qev_dot(a, b): the inner product. */
  public static final class Dot extends Kernel implements UDF2<Object, Object, Double> {
    @Override
    public Double call(Object x, Object y) {
      double[] a = vector(x);
      double[] b = vector(y);
      if (a == null || b == null || a.length != b.length) {
        return null;
      }
      return dot(a, b);
    }
  }

  /** qev_squared_l2(a, b): the sum of squared differences. */
  public static final class SquaredL2 extends Kernel implements UDF2<Object, Object, Double> {
    @Override
    public Double call(Object x, Object y) {
      double[] a = vector(x);
      double[] b = vector(y);
      if (a == null || b == null || a.length != b.length) {
        return null;
      }
      double acc = 0.0;
      for (int i = 0; i < a.length; i++) {
        double d = a[i] - b[i];
        acc = acc + d * d;
      }
      return acc;
    }
  }

  /** qev_norm(a): the Euclidean norm. */
  public static final class Norm extends Kernel implements UDF1<Object, Double> {
    @Override
    public Double call(Object x) {
      double[] a = vector(x);
      return a == null ? null : normOf(x, a);
    }
  }

  /** qev_cosine(a, b): dot / (norm(a) * norm(b)), NULL when that product is 0. */
  public static final class Cosine extends Kernel implements UDF2<Object, Object, Double> {
    @Override
    public Double call(Object x, Object y) {
      double[] a = vector(x);
      double[] b = vector(y);
      if (a == null || b == null || a.length != b.length) {
        return null;
      }
      double denom = normOf(x, a) * normOf(y, b);
      // NaN != 0, as in SQL: a NaN norm still divides
      if (denom == 0.0) {
        return null;
      }
      return dot(a, b) / denom;
    }
  }

  /** Decoded hyperplanes: {@code planes[j]} is plane j, each {@code dim} long. */
  static final class Planes {
    final int dim;
    final double[][] planes;

    Planes(byte[] bytes) {
      dim = ByteBuffer.wrap(bytes).getInt(0);
      double[] flat = decode(bytes, 4);
      if (dim <= 0 || flat.length % dim != 0) {
        throw new IllegalArgumentException(
            "hyperplane literal of " + flat.length + " values does not hold dim " + dim + " planes");
      }
      planes = new double[flat.length / dim][];
      for (int j = 0; j < planes.length; j++) {
        planes[j] = Arrays.copyOfRange(flat, j * dim, (j + 1) * dim);
      }
    }
  }

  /**
   * qev_lsh_bits(v, planes): one '0'/'1' per hyperplane, '1' iff the dot of
   * the row with the plane is {@code >= 0} in SQL order (NaN sorts above
   * every number, so a NaN dot is '1'). {@code planes} is a binary literal:
   * a big-endian int32 dim, then the planes' binary64 values plane by plane.
   * A row that is NULL, has a NULL element or is not dim long gets all '0'.
   */
  public static final class LshBits implements UDF2<Object, byte[], String> {
    private transient LiteralCache<Planes> cache;

    @Override
    public String call(Object x, byte[] planeBytes) {
      LiteralCache<Planes> c = cache;
      if (c == null) {
        cache = c = new LiteralCache<>();
      }
      Planes p = c.get(planeBytes, Planes::new);
      double[] v = x == null ? null : column((Seq<?>) x);
      char[] bits = new char[p.planes.length];
      Arrays.fill(bits, '0');
      if (v != null && v.length == p.dim) {
        for (int j = 0; j < bits.length; j++) {
          double s = dot(v, p.planes[j]);
          if (s >= 0.0 || Double.isNaN(s)) {
            bits[j] = '1';
          }
        }
      }
      return new String(bits);
    }
  }
}
