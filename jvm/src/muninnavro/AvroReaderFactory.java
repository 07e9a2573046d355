package muninnavro;

import java.io.IOException;

import org.apache.avro.Schema;
import org.apache.avro.file.DataFileReader;
import org.apache.avro.generic.GenericDatumReader;
import org.apache.avro.generic.GenericRecord;
import org.apache.avro.mapred.FsInput;
import org.apache.hadoop.fs.Path;
import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow;
import org.apache.spark.sql.connector.read.InputPartition;
import org.apache.spark.sql.connector.read.PartitionReader;
import org.apache.spark.sql.connector.read.PartitionReaderFactory;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.unsafe.types.UTF8String;
import org.apache.spark.util.SerializableConfiguration;

/** Creates per-partition readers that walk the partition's byte ranges in
 * order. For each range: open the file once, seek to the first sync
 * marker at or after the range start, decode until past the range end.
 * The reader schema is the PRUNED projection of that file's writer
 * schema, so avro's resolving decoder skips (never materializes)
 * unrequested fields. */
public class AvroReaderFactory implements PartitionReaderFactory {
    private static final long serialVersionUID = 1L;

    private final String requiredJson;
    private final String pathColumn;
    private final SerializableConfiguration conf;

    AvroReaderFactory(String requiredJson, String pathColumn,
                      SerializableConfiguration conf) {
        this.requiredJson = requiredJson;
        this.pathColumn = pathColumn;
        this.conf = conf;
    }

    @Override
    public PartitionReader<InternalRow> createReader(InputPartition partition) {
        StructType required = (StructType) DataType.fromJson(requiredJson);
        return new Reader((AvroInputPartition) partition, required, pathColumn, conf);
    }

    static final class Reader implements PartitionReader<InternalRow> {
        private final AvroInputPartition p;
        private final StructType required;
        private final StructType avroFields;
        private final SerializableConfiguration conf;
        private final int nOut;
        private final int pathSlot;
        private int nextRange;
        // state of the range being read, replaced per file
        private DataFileReader<GenericRecord> reader;
        private long end;
        private AvroConverters.Conv[] convs;
        private int[] readerPos;
        private UTF8String pathValue;
        private GenericRecord current;

        Reader(AvroInputPartition p, StructType required, String pathColumn,
               SerializableConfiguration conf) {
            this.p = p;
            this.required = required;
            this.conf = conf;
            this.nOut = required.fields().length;
            int slot = -1;
            StructType avro = new StructType();
            for (int i = 0; i < nOut; i++) {
                StructField f = required.fields()[i];
                if (!pathColumn.isEmpty() && f.name().equals(pathColumn)) {
                    slot = i;
                } else {
                    avro = avro.add(f);
                }
            }
            this.pathSlot = slot;
            this.avroFields = avro;
        }

        /** Opens range i: one DataFileReader whose header gives the writer
         * schema, then the pruned reader schema is set on its datum reader
         * before the first record is decoded. */
        private void open(int i) throws IOException {
            String path = p.paths[i];
            GenericDatumReader<GenericRecord> datum = new GenericDatumReader<>();
            try {
                reader = new DataFileReader<>(
                        new FsInput(new Path(path), conf.value()), datum);
            } catch (IOException e) {
                throw new IOException("opening avro split failed: " + path, e);
            }
            Schema readerSchema = AvroConverters.pruneWriterSchema(
                    reader.getSchema(), avroFields);
            datum.setExpected(readerSchema);
            reader.sync(p.starts[i]);
            end = p.starts[i] + p.lengths[i];

            // map each output slot to its position in the reader record
            StructField[] fields = required.fields();
            convs = new AvroConverters.Conv[nOut];
            readerPos = new int[nOut];
            for (int k = 0; k < nOut; k++) {
                if (k == pathSlot) {
                    readerPos[k] = -1;
                    continue;
                }
                Schema.Field f = readerSchema.getField(fields[k].name());
                if (f == null) {
                    readerPos[k] = -2; // absent from the writer: NULL-fill
                    continue;
                }
                readerPos[k] = f.pos();
                // compile against the REQUIRED Catalyst type: projects
                // nested-pruned structs by name (positional emission of a
                // superset record would silently mis-read non-prefix
                // subfields) and throws a loud schema-drift error when
                // this FILE's writer schema decodes to a different type
                // than the scan schema (which came from the first file)
                try {
                    convs[k] = AvroConverters.compileFor(
                            f.schema(), fields[k].dataType());
                } catch (IllegalStateException e) {
                    throw new IOException(
                            e.getMessage() + " (file: " + path + ", field '"
                            + fields[k].name() + "')", e);
                }
            }
            pathValue = UTF8String.fromString(path);
            // a record of the previous file's schema cannot be reused
            current = null;
        }

        @Override
        public boolean next() throws IOException {
            while (true) {
                if (reader != null) {
                    if (reader.hasNext() && !reader.pastSync(end)) {
                        // datum reuse is safe: get() copies every leaf value
                        // out of the record (strings/bytes/fixed byte-copied,
                        // containers rebuilt), so nothing escapes that the
                        // next read mutates
                        current = reader.next(current);
                        return true;
                    }
                    reader.close();
                    reader = null;
                }
                if (nextRange == p.paths.length) {
                    return false;
                }
                open(nextRange++);
            }
        }

        @Override
        public InternalRow get() {
            Object[] out = new Object[nOut];
            for (int i = 0; i < nOut; i++) {
                if (i == pathSlot) {
                    out[i] = pathValue;
                } else if (readerPos[i] >= 0) {
                    out[i] = convs[i].apply(current.get(readerPos[i]));
                }
            }
            return new GenericInternalRow(out);
        }

        @Override
        public void close() throws IOException {
            if (reader != null) {
                reader.close();
            }
        }
    }
}
