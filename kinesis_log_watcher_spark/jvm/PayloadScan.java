package klw;

import com.fasterxml.jackson.core.JsonEncoding;
import com.fasterxml.jackson.core.JsonFactory;
import com.fasterxml.jackson.core.JsonGenerator;
import com.fasterxml.jackson.core.JsonParser;
import com.fasterxml.jackson.core.JsonToken;
import java.io.ByteArrayOutputStream;
import java.io.IOException;
import java.nio.charset.StandardCharsets;
import org.apache.spark.sql.api.java.UDF2;
import org.apache.spark.sql.catalyst.json.JSONOptions;

/**
 * The template's one parse of the {@code .Log} payload: (payload text,
 * newline-joined top-level keys) to one JSON text per key, or null when
 * the payload is not a JSON object.
 *
 * <p>Values are what {@code from_json} gives a {@code string} field of a
 * struct: the parser comes from Spark's own {@code JSONOptions} factory
 * (quirks, nesting and length limits), a string leaf is its text, a JSON
 * null is null, and any other value is re-serialized by that factory's
 * generator. The last of a repeated key wins; trailing data after the
 * object is ignored. Any failure means "not an object", as a corrupt
 * record does for {@code from_json}.
 */
public final class PayloadScan implements UDF2<String, String, String[]> {
  private static final class Keys {
    final String text;
    final String[] names;

    Keys(String text) {
      this.text = text;
      this.names = text.isEmpty() ? new String[0] : text.split("\n", -1);
    }
  }

  private transient JsonFactory factory;
  private transient Keys keys;

  @Override
  public String[] call(String payload, String keyText) {
    if (payload == null || !opensObject(payload)) {
      return null;
    }
    Keys k = keys;
    if (k == null || !k.text.equals(keyText)) {
      keys = k = new Keys(keyText);
    }
    if (factory == null) {
      factory = new JSONOptions(
          scala.collection.immutable.Map$.MODULE$.<String, String>empty(), "UTC", "#corrupt")
          .buildJsonFactory();
    }
    String[] out = new String[k.names.length];
    try (JsonParser p = factory.createParser(payload)) {
      p.nextToken();
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        int i = indexOf(k.names, p.currentName());
        JsonToken t = p.nextToken();
        if (i < 0) {
          p.skipChildren();
        } else if (t == JsonToken.VALUE_STRING) {
          out[i] = p.getText();
        } else if (t == JsonToken.VALUE_NULL) {
          out[i] = null;
        } else {
          ByteArrayOutputStream buf = new ByteArrayOutputStream();
          try (JsonGenerator g = factory.createGenerator(buf, JsonEncoding.UTF8)) {
            g.copyCurrentStructure(p);
          }
          out[i] = new String(buf.toByteArray(), StandardCharsets.UTF_8);
        }
      }
    } catch (IOException | RuntimeException e) {
      return null;
    }
    return out;
  }

  /** The first character after JSON whitespace is '{' (envelope.json_opens). */
  private static boolean opensObject(String s) {
    for (int i = 0; i < s.length(); i++) {
      char c = s.charAt(i);
      if (c != ' ' && c != '\t' && c != '\n' && c != '\r') {
        return c == '{';
      }
    }
    return false;
  }

  private static int indexOf(String[] names, String name) {
    for (int i = 0; i < names.length; i++) {
      if (names[i].equals(name)) {
        return i;
      }
    }
    return -1;
  }
}
