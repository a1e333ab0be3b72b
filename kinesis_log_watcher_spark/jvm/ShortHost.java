package klw;

import java.util.Arrays;
import org.apache.spark.sql.api.java.UDF1;

/**
 * ShortHostId (reference main.go:252-262) from the partition key's UTF-8
 * bytes: the part after the last {@code ':'}, then one leading
 * {@code task/} (ECS task ARN) or {@code instance/} (EC2 instance ARN)
 * removed.
 *
 * <p>It works on bytes, as Go's string functions do, so invalid UTF-8
 * comes back byte for byte, and no row pays a decode to a Java String.
 * Both the separator and the prefixes are ASCII, so no byte of a
 * multibyte sequence can match them.
 */
public final class ShortHost implements UDF1<byte[], byte[]> {
  private static final byte[] TASK = {'t', 'a', 's', 'k', '/'};
  private static final byte[] INSTANCE = {'i', 'n', 's', 't', 'a', 'n', 'c', 'e', '/'};

  @Override
  public byte[] call(byte[] key) {
    if (key == null) {
      return null;
    }
    int from = key.length;
    while (from > 0 && key[from - 1] != ':') {
      from--;
    }
    if (startsWith(key, from, TASK)) {
      from += TASK.length;
    } else if (startsWith(key, from, INSTANCE)) {
      from += INSTANCE.length;
    }
    return from == 0 ? key : Arrays.copyOfRange(key, from, key.length);
  }

  private static boolean startsWith(byte[] s, int from, byte[] prefix) {
    if (s.length - from < prefix.length) {
      return false;
    }
    for (int i = 0; i < prefix.length; i++) {
      if (s[from + i] != prefix[i]) {
        return false;
      }
    }
    return true;
  }
}
