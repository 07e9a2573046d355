package muninnavro;

import java.math.BigDecimal;
import java.math.BigInteger;
import java.math.MathContext;
import java.math.RoundingMode;

import org.apache.spark.sql.api.java.UDF1;

/** The CDC bytes-decimal coercion as a Java UDF, for scans that read
 * decimal columns as raw unscaled bytes ({@code muninn.decimalAsBinary}).
 * Ports {@code scalars.bytes_to_decimal} exactly: the big-endian
 * two's-complement unscaled int is read at an ASSUMED scale 30 and
 * rescaled to 9 places HALF_EVEN, whatever scale the writer declared.
 *
 * <p>The Python spec runs in the default 28-digit decimal context, and
 * two of its steps depend on that. {@code scaleb(-30)} first rounds the
 * value HALF_EVEN to 28 significant digits, so an unscaled int with 29
 * or more digits is rounded twice. {@code quantize} then raises when the
 * result needs more than 28 digits (any magnitude of 10^19 or more), and
 * the spec returns a silent zero, not null. Empty bytes are the int 0,
 * as {@code int.from_bytes(b"")} is in Python. */
public class CdcBytesDecimal implements UDF1<byte[], BigDecimal> {
    private static final long serialVersionUID = 1L;

    static final int ASSUMED_SCALE = 30;
    static final int TARGET_SCALE = 9;
    static final MathContext CONTEXT = new MathContext(28, RoundingMode.HALF_EVEN);
    static final BigDecimal ZERO = BigDecimal.ZERO.setScale(TARGET_SCALE);

    @Override
    public BigDecimal call(byte[] b) {
        if (b == null) {
            return null;
        }
        if (b.length == 0) {
            return ZERO;
        }
        BigDecimal out = new BigDecimal(new BigInteger(b), ASSUMED_SCALE)
                .round(CONTEXT)
                .setScale(TARGET_SCALE, RoundingMode.HALF_EVEN);
        return out.precision() > CONTEXT.getPrecision() ? ZERO : out;
    }
}
