package muninnavro;

import org.apache.spark.sql.connector.read.InputPartition;

/** Byte ranges of one or more Avro files, read in order: several whole
 * small files packed together, or one chunk of a large file. The reader
 * aligns each range to sync markers. */
public class AvroInputPartition implements InputPartition {
    private static final long serialVersionUID = 2L;

    final String[] paths;
    final long[] starts;
    final long[] lengths;

    AvroInputPartition(String[] paths, long[] starts, long[] lengths) {
        this.paths = paths;
        this.starts = starts;
        this.lengths = lengths;
    }
}
