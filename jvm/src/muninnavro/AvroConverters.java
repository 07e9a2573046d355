package muninnavro;

import java.math.BigDecimal;
import java.math.BigInteger;
import java.nio.ByteBuffer;
import java.util.ArrayList;
import java.util.List;

import org.apache.avro.LogicalType;
import org.apache.avro.LogicalTypes;
import org.apache.avro.Schema;
import org.apache.avro.generic.GenericData;
import org.apache.avro.generic.GenericEnumSymbol;
import org.apache.avro.generic.GenericFixed;
import org.apache.avro.generic.IndexedRecord;
import org.apache.avro.util.Utf8;
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow;
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData;
import org.apache.spark.sql.catalyst.util.GenericArrayData;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.Decimal;
import org.apache.spark.sql.types.Metadata;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.unsafe.types.UTF8String;

/**
 * Avro schema/value to Catalyst schema/value conversion for the
 * muninn JVM Avro DataSource. Mapping follows the published spark-avro
 * rules (the Apache Spark "Avro Data Source Guide"): a ["null", X]
 * union maps as X, [int,long] widens to long, [float,double] to
 * double, other multi-branch unions become member structs; logical
 * timestamp-millis/micros map to TimestampType (micros),
 * local-timestamp to TimestampNTZ, date to DateType, decimal to
 * DecimalType; enum/fixed map to string/binary. Every field, array
 * element and map value is declared nullable, as the Python codec
 * declares them, so a read's schema does not depend on the engine
 * (and a drifted file whose value is null fits the first file's scan
 * schema).
 */
public final class AvroConverters {

    private AvroConverters() {}

    /** A precompiled Avro value to Catalyst value converter. */
    public interface Conv {
        Object apply(Object v);
    }

    private static List<Schema> nonNullBranches(Schema union) {
        List<Schema> out = new ArrayList<>();
        for (Schema b : union.getTypes()) {
            if (b.getType() != Schema.Type.NULL) {
                out.add(b);
            }
        }
        return out;
    }

    public static DataType toSqlType(Schema s) {
        return toSqlType(s, false);
    }

    /** With {@code decimalAsBinary}, bytes/fixed decimal columns map to
     * BinaryType carrying the raw big-endian two's-complement unscaled
     * bytes instead of DecimalType. The CDC ingest path requests this:
     * its contract reinterprets the unscaled int at an ASSUMED scale the
     * writer's declared scale doesn't express, so the engine applies its
     * own (Arrow-vectorized) decimal coercion on top of the JVM scan —
     * only the decimal columns pay the Python hop, not the whole row. */
    public static DataType toSqlType(Schema s, boolean decimalAsBinary) {
        switch (s.getType()) {
            case BOOLEAN:
                return DataTypes.BooleanType;
            case INT: {
                LogicalType lt = s.getLogicalType();
                if (lt instanceof LogicalTypes.Date) {
                    return DataTypes.DateType;
                }
                return DataTypes.IntegerType;
            }
            case LONG: {
                LogicalType lt = s.getLogicalType();
                if (lt instanceof LogicalTypes.TimestampMillis
                        || lt instanceof LogicalTypes.TimestampMicros) {
                    return DataTypes.TimestampType;
                }
                if (lt instanceof LogicalTypes.LocalTimestampMillis
                        || lt instanceof LogicalTypes.LocalTimestampMicros) {
                    return DataTypes.TimestampNTZType;
                }
                return DataTypes.LongType;
            }
            case FLOAT:
                return DataTypes.FloatType;
            case DOUBLE:
                return DataTypes.DoubleType;
            case STRING:
            case ENUM:
                return DataTypes.StringType;
            case BYTES:
            case FIXED: {
                LogicalType lt = s.getLogicalType();
                if (lt instanceof LogicalTypes.Decimal && !decimalAsBinary) {
                    LogicalTypes.Decimal d = (LogicalTypes.Decimal) lt;
                    return DataTypes.createDecimalType(d.getPrecision(), d.getScale());
                }
                return DataTypes.BinaryType;
            }
            case ARRAY:
                return DataTypes.createArrayType(
                        toSqlType(s.getElementType(), decimalAsBinary), true);
            case MAP:
                return DataTypes.createMapType(
                        DataTypes.StringType,
                        toSqlType(s.getValueType(), decimalAsBinary), true);
            case RECORD: {
                List<StructField> fields = new ArrayList<>();
                for (Schema.Field f : s.getFields()) {
                    fields.add(new StructField(
                            f.name(),
                            toSqlType(f.schema(), decimalAsBinary),
                            true, Metadata.empty()));
                }
                return DataTypes.createStructType(fields);
            }
            case UNION: {
                List<Schema> branches = nonNullBranches(s);
                if (branches.size() == 1) {
                    return toSqlType(branches.get(0), decimalAsBinary);
                }
                if (branches.size() == 2) {
                    Schema.Type t0 = branches.get(0).getType();
                    Schema.Type t1 = branches.get(1).getType();
                    if ((t0 == Schema.Type.INT && t1 == Schema.Type.LONG)
                            || (t0 == Schema.Type.LONG && t1 == Schema.Type.INT)) {
                        return DataTypes.LongType;
                    }
                    if ((t0 == Schema.Type.FLOAT && t1 == Schema.Type.DOUBLE)
                            || (t0 == Schema.Type.DOUBLE && t1 == Schema.Type.FLOAT)) {
                        return DataTypes.DoubleType;
                    }
                }
                List<StructField> members = new ArrayList<>();
                for (int i = 0; i < branches.size(); i++) {
                    members.add(new StructField(
                            "member" + i,
                            toSqlType(branches.get(i), decimalAsBinary),
                            true, Metadata.empty()));
                }
                return DataTypes.createStructType(members);
            }
            default:
                throw new UnsupportedOperationException(
                        "unsupported avro type: " + s.getType());
        }
    }

    /** Compile a converter for one Avro schema node. Null-safe: every
     * returned converter maps null to null. */
    public static Conv compile(Schema s) {
        final Conv inner = compileNonNull(s);
        return v -> v == null ? null : inner.apply(v);
    }

    private static Conv compileNonNull(Schema s) {
        switch (s.getType()) {
            case BOOLEAN:
            case INT:
            case FLOAT:
            case DOUBLE: {
                if (s.getType() == Schema.Type.INT
                        && s.getLogicalType() instanceof LogicalTypes.Date) {
                    return v -> ((Number) v).intValue();
                }
                return v -> v;
            }
            case LONG: {
                LogicalType lt = s.getLogicalType();
                if (lt instanceof LogicalTypes.TimestampMillis
                        || lt instanceof LogicalTypes.LocalTimestampMillis) {
                    return v -> Math.multiplyExact(((Number) v).longValue(), 1000L);
                }
                return v -> ((Number) v).longValue();
            }
            case STRING:
                return v -> {
                    if (v instanceof Utf8) {
                        Utf8 u = (Utf8) v;
                        byte[] copy = new byte[u.getByteLength()];
                        System.arraycopy(u.getBytes(), 0, copy, 0, copy.length);
                        return UTF8String.fromBytes(copy);
                    }
                    return UTF8String.fromString(v.toString());
                };
            case ENUM:
                return v -> UTF8String.fromString(((GenericEnumSymbol<?>) v).toString());
            case BYTES: {
                if (s.getLogicalType() instanceof LogicalTypes.Decimal) {
                    LogicalTypes.Decimal d = (LogicalTypes.Decimal) s.getLogicalType();
                    return v -> decimalFromBytes(bufferBytes((ByteBuffer) v), d);
                }
                return v -> bufferBytes((ByteBuffer) v);
            }
            case FIXED: {
                if (s.getLogicalType() instanceof LogicalTypes.Decimal) {
                    LogicalTypes.Decimal d = (LogicalTypes.Decimal) s.getLogicalType();
                    return v -> decimalFromBytes(((GenericFixed) v).bytes().clone(), d);
                }
                return v -> ((GenericFixed) v).bytes().clone();
            }
            case ARRAY: {
                Conv el = compile(s.getElementType());
                return v -> {
                    List<?> in = (List<?>) v;
                    Object[] out = new Object[in.size()];
                    for (int i = 0; i < out.length; i++) {
                        out[i] = el.apply(in.get(i));
                    }
                    return new GenericArrayData(out);
                };
            }
            case MAP: {
                Conv val = compile(s.getValueType());
                return v -> {
                    java.util.Map<?, ?> in = (java.util.Map<?, ?>) v;
                    Object[] keys = new Object[in.size()];
                    Object[] vals = new Object[in.size()];
                    int i = 0;
                    for (java.util.Map.Entry<?, ?> e : in.entrySet()) {
                        keys[i] = UTF8String.fromString(e.getKey().toString());
                        vals[i] = val.apply(e.getValue());
                        i++;
                    }
                    return new ArrayBasedMapData(
                            new GenericArrayData(keys), new GenericArrayData(vals));
                };
            }
            case RECORD: {
                List<Schema.Field> fields = s.getFields();
                Conv[] convs = new Conv[fields.size()];
                for (int i = 0; i < convs.length; i++) {
                    convs[i] = compile(fields.get(i).schema());
                }
                return v -> {
                    IndexedRecord rec = (IndexedRecord) v;
                    Object[] out = new Object[convs.length];
                    for (int i = 0; i < convs.length; i++) {
                        out[i] = convs[i].apply(rec.get(i));
                    }
                    return new GenericInternalRow(out);
                };
            }
            case UNION: {
                List<Schema> branches = nonNullBranches(s);
                if (branches.size() == 1) {
                    return compileNonNull(branches.get(0));
                }
                DataType sql = toSqlType(s);
                if (sql == DataTypes.LongType) {
                    return v -> ((Number) v).longValue();
                }
                if (sql == DataTypes.DoubleType) {
                    return v -> ((Number) v).doubleValue();
                }
                // member struct: place the converted value in the slot of
                // the branch the value resolves to
                Conv[] convs = new Conv[branches.size()];
                for (int i = 0; i < convs.length; i++) {
                    convs[i] = compile(branches.get(i));
                }
                final Schema union = s;
                final List<Schema> nn = branches;
                return v -> {
                    int raw = GenericData.get().resolveUnion(union, v);
                    Schema branch = union.getTypes().get(raw);
                    int slot = nn.indexOf(branch);
                    Object[] out = new Object[convs.length];
                    out[slot] = convs[slot].apply(v);
                    return new GenericInternalRow(out);
                };
            }
            default:
                throw new UnsupportedOperationException(
                        "unsupported avro type: " + s.getType());
        }
    }

    /** Compile a converter that also PROJECTS to the required Catalyst
     * type: nested column pruning hands the scan a struct whose fields
     * are a (possibly non-prefix) subset of the decoded record, and
     * Catalyst struct access is positional — emitting the full record
     * where a pruned struct is expected silently mis-reads every
     * non-prefix field. Converters therefore emit rows with EXACTLY the
     * required shape, selecting avro fields by NAME; a required leaf
     * whose avro type decodes differently throws (schema drift). */
    public static Conv compileFor(Schema s, DataType required) {
        final Conv inner = compileForNonNull(s, required);
        return v -> v == null ? null : inner.apply(v);
    }

    private static Conv compileForNonNull(Schema s, DataType required) {
        if (s.getType() == Schema.Type.UNION) {
            List<Schema> branches = nonNullBranches(s);
            if (branches.size() == 1) {
                return compileForNonNull(branches.get(0), required);
            }
            DataType sql = toSqlType(s);
            if (sql instanceof org.apache.spark.sql.types.LongType
                    || sql instanceof org.apache.spark.sql.types.DoubleType) {
                checkLeaf(sql, required, s);
                return compileNonNull(s);
            }
            // member-struct union: required may prune members; slots are
            // matched by their "member<i>" names
            if (!(required instanceof StructType)) {
                throw drift(sql, required, s);
            }
            StructField[] req = ((StructType) required).fields();
            int[] slotOfBranch = new int[branches.size()];
            java.util.Arrays.fill(slotOfBranch, -1);
            Conv[] convs = new Conv[branches.size()];
            for (int j = 0; j < req.length; j++) {
                String nm = req[j].name();
                if (!nm.startsWith("member")) {
                    throw drift(toSqlType(s), required, s);
                }
                int b = Integer.parseInt(nm.substring("member".length()));
                slotOfBranch[b] = j;
                convs[b] = compileFor(branches.get(b), req[j].dataType());
            }
            final Schema union = s;
            final List<Schema> nn = branches;
            final int arity = req.length;
            return v -> {
                int raw = GenericData.get().resolveUnion(union, v);
                int b = nn.indexOf(union.getTypes().get(raw));
                Object[] out = new Object[arity];
                if (b >= 0 && slotOfBranch[b] >= 0) {
                    out[slotOfBranch[b]] = convs[b].apply(v);
                }
                return new GenericInternalRow(out);
            };
        }
        switch (s.getType()) {
            case RECORD: {
                if (!(required instanceof StructType)) {
                    throw drift(toSqlType(s), required, s);
                }
                StructField[] req = ((StructType) required).fields();
                Conv[] convs = new Conv[req.length];
                int[] pos = new int[req.length];
                for (int j = 0; j < req.length; j++) {
                    Schema.Field f = s.getField(req[j].name());
                    if (f == null) {
                        pos[j] = -1;
                        continue;
                    }
                    pos[j] = f.pos();
                    convs[j] = compileFor(f.schema(), req[j].dataType());
                }
                final int n = req.length;
                return v -> {
                    IndexedRecord rec = (IndexedRecord) v;
                    Object[] out = new Object[n];
                    for (int j = 0; j < n; j++) {
                        if (pos[j] >= 0) {
                            out[j] = convs[j].apply(rec.get(pos[j]));
                        }
                    }
                    return new GenericInternalRow(out);
                };
            }
            case ARRAY: {
                if (!(required instanceof org.apache.spark.sql.types.ArrayType)) {
                    throw drift(toSqlType(s), required, s);
                }
                Conv el = compileFor(
                        s.getElementType(),
                        ((org.apache.spark.sql.types.ArrayType) required).elementType());
                return v -> {
                    List<?> in = (List<?>) v;
                    Object[] out = new Object[in.size()];
                    for (int i = 0; i < out.length; i++) {
                        out[i] = el.apply(in.get(i));
                    }
                    return new GenericArrayData(out);
                };
            }
            case MAP: {
                if (!(required instanceof org.apache.spark.sql.types.MapType)) {
                    throw drift(toSqlType(s), required, s);
                }
                Conv val = compileFor(
                        s.getValueType(),
                        ((org.apache.spark.sql.types.MapType) required).valueType());
                return v -> {
                    java.util.Map<?, ?> in = (java.util.Map<?, ?>) v;
                    Object[] keys = new Object[in.size()];
                    Object[] vals = new Object[in.size()];
                    int i = 0;
                    for (java.util.Map.Entry<?, ?> e : in.entrySet()) {
                        keys[i] = UTF8String.fromString(e.getKey().toString());
                        vals[i] = val.apply(e.getValue());
                        i++;
                    }
                    return new ArrayBasedMapData(
                            new GenericArrayData(keys), new GenericArrayData(vals));
                };
            }
            default: {
                // required BinaryType over an avro decimal: the scan was
                // built with muninn.decimalAsBinary — emit the raw
                // unscaled bytes; the engine's own coercion runs on top
                if (required instanceof org.apache.spark.sql.types.BinaryType
                        && s.getLogicalType() instanceof LogicalTypes.Decimal) {
                    if (s.getType() == Schema.Type.BYTES) {
                        return v -> bufferBytes((ByteBuffer) v);
                    }
                    if (s.getType() == Schema.Type.FIXED) {
                        return v -> ((GenericFixed) v).bytes().clone();
                    }
                }
                checkLeaf(toSqlType(s), required, s);
                return compileNonNull(s);
            }
        }
    }

    private static void checkLeaf(DataType got, DataType required, Schema s) {
        if (!got.sameType(required)) {
            throw drift(got, required, s);
        }
    }

    private static RuntimeException drift(DataType got, DataType required, Schema s) {
        return new IllegalStateException(
                "schema drift: avro " + s + " decodes as " + got.sql()
                + " but the scan schema expects " + required.sql()
                + "; read drifted files in separate loads");
    }

    private static byte[] bufferBytes(ByteBuffer bb) {
        byte[] out = new byte[bb.remaining()];
        bb.duplicate().get(out);
        return out;
    }

    private static Decimal decimalFromBytes(byte[] unscaled, LogicalTypes.Decimal d) {
        // empty bytes hold unscaled 0, as in the Python codec and
        // CdcBytesDecimal (BigInteger rejects a zero-length array)
        BigInteger n = unscaled.length == 0 ? BigInteger.ZERO : new BigInteger(unscaled);
        BigDecimal bd = new BigDecimal(n, d.getScale());
        return Decimal.apply(bd, d.getPrecision(), d.getScale());
    }

    /** Reader-side avro schema projection: a new record schema holding
     * only the requested top-level fields (avro schema resolution then
     * skips the others during decode — genuine scan-level pruning). */
    public static Schema pruneWriterSchema(Schema writer, StructType required) {
        List<Schema.Field> kept = new ArrayList<>();
        for (StructField f : required.fields()) {
            Schema.Field wf = writer.getField(f.name());
            if (wf != null) {
                kept.add(new Schema.Field(wf.name(), wf.schema(), wf.doc(), wf.defaultVal()));
            }
        }
        return Schema.createRecord(
                writer.getName(), writer.getDoc(), writer.getNamespace(), false, kept);
    }
}
