package klw;

import java.time.Instant;
import java.time.ZoneId;
import java.time.zone.ZoneRules;
import org.apache.spark.sql.api.java.UDF2;

/**
 * (epoch micros, zone ID) to the exact text of Spark's timestamp-to-string
 * cast in that zone: {@code yyyy-MM-dd HH:mm:ss} and, when the instant has
 * a fraction, a dot and its digits with the trailing zeros removed.
 *
 * <p>The cast goes through {@code DateTimeFormatter} and builds a
 * {@code ZonedDateTime} per row. Here the zone's offset comes from its
 * {@code ZoneRules}, read once for a fixed offset such as UTC and per
 * row otherwise; the civil date comes from integer arithmetic on days
 * (proleptic Gregorian, as java.time); and the digits are written
 * straight into the result. The year prints as
 * {@code ISO_LOCAL_DATE} prints it: at least 4 digits, {@code +} above
 * 9999 and {@code -} below 0.
 */
public final class LocalTime implements UDF2<Long, String, byte[]> {
  private transient String zone;
  private transient ZoneRules rules;
  // Whether the zone has one offset for all instants, and that offset.
  private transient boolean fixed;
  private transient int fixedOffset;

  @Override
  public byte[] call(Long micros, String zoneId) {
    if (micros == null || zoneId == null) {
      return null;
    }
    if (!zoneId.equals(zone)) {
      rules = ZoneId.of(zoneId).getRules();
      zone = zoneId;
      fixed = rules.isFixedOffset();
      fixedOffset = rules.getOffset(Instant.EPOCH).getTotalSeconds();
    }
    long secs = Math.floorDiv(micros, 1_000_000L);
    int fraction = (int) Math.floorMod(micros, 1_000_000L);
    long local = secs + (fixed
        ? fixedOffset
        : rules.getOffset(Instant.ofEpochSecond(secs)).getTotalSeconds());
    long days = Math.floorDiv(local, 86_400L);
    int second = (int) Math.floorMod(local, 86_400L);

    // days since 1970-01-01 to (year, month, day); see Howard Hinnant,
    // "chrono-Compatible Low-Level Date Algorithms", civil_from_days.
    long z = days + 719_468L;
    long era = Math.floorDiv(z, 146_097L);
    int doe = (int) (z - era * 146_097L);
    int yoe = (doe - doe / 1_460 + doe / 36_524 - doe / 146_096) / 365;
    int doy = doe - (365 * yoe + yoe / 4 - yoe / 100);
    int mp = (5 * doy + 2) / 153;
    int day = doy - (153 * mp + 2) / 5 + 1;
    int month = mp < 10 ? mp + 3 : mp - 9;
    long year = yoe + era * 400 + (month <= 2 ? 1 : 0);

    long absYear = Math.abs(year);
    int yearDigits = Math.max(4, digits(absYear));
    int sign = (year < 0 || year > 9_999) ? 1 : 0;
    int fractionDigits = 0;
    if (fraction != 0) {
      fractionDigits = 6;
      for (int f = fraction; f % 10 == 0; f /= 10) {
        fractionDigits--;
      }
    }
    byte[] out = new byte[sign + yearDigits + 15 + (fractionDigits == 0 ? 0 : 1 + fractionDigits)];
    int i = 0;
    if (sign == 1) {
      out[i++] = (byte) (year < 0 ? '-' : '+');
    }
    for (int k = sign + yearDigits - 1; k >= i; k--, absYear /= 10) {
      out[k] = (byte) ('0' + absYear % 10);
    }
    i += yearDigits;
    out[i++] = '-';
    i = two(out, i, month);
    out[i++] = '-';
    i = two(out, i, day);
    out[i++] = ' ';
    i = two(out, i, second / 3_600);
    out[i++] = ':';
    i = two(out, i, second / 60 % 60);
    out[i++] = ':';
    i = two(out, i, second % 60);
    if (fractionDigits != 0) {
      out[i++] = '.';
      int f = fraction;
      for (int k = 6; k > fractionDigits; k--) {
        f /= 10;
      }
      for (int k = i + fractionDigits - 1; k >= i; k--, f /= 10) {
        out[k] = (byte) ('0' + f % 10);
      }
    }
    return out;
  }

  private static int digits(long v) {
    int n = 1;
    while (v >= 10) {
      v /= 10;
      n++;
    }
    return n;
  }

  private static int two(byte[] out, int i, int v) {
    out[i] = (byte) ('0' + v / 10);
    out[i + 1] = (byte) ('0' + v % 10);
    return i + 2;
  }
}
