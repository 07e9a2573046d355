package muninnavro;

import java.io.IOException;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.Collections;
import java.util.HashSet;
import java.util.List;
import java.util.Map;
import java.util.Set;

import com.fasterxml.jackson.databind.ObjectMapper;
import org.apache.avro.Schema;
import org.apache.avro.file.DataFileReader;
import org.apache.avro.generic.GenericDatumReader;
import org.apache.avro.generic.GenericRecord;
import org.apache.avro.mapred.FsInput;
import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.spark.SparkContext;
import org.apache.spark.sql.connector.catalog.SupportsRead;
import org.apache.spark.sql.connector.catalog.Table;
import org.apache.spark.sql.connector.catalog.TableCapability;
import org.apache.spark.sql.connector.catalog.TableProvider;
import org.apache.spark.sql.connector.expressions.Transform;
import org.apache.spark.sql.connector.read.Batch;
import org.apache.spark.sql.connector.read.InputPartition;
import org.apache.spark.sql.connector.read.PartitionReaderFactory;
import org.apache.spark.sql.connector.read.Scan;
import org.apache.spark.sql.connector.read.ScanBuilder;
import org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns;
import org.apache.spark.sql.sources.DataSourceRegister;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.Metadata;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.util.CaseInsensitiveStringMap;
import org.apache.spark.util.SerializableConfiguration;

/**
 * A DataSource V2 batch reader for Avro Object Container Files,
 * registered under the short name "avro" so
 * {@code spark.read.format("avro")} resolves it when the upstream
 * spark-avro module is absent (this image has no network access to
 * install it; the avro 1.12.1 core jars ARE shipped with Spark).
 *
 * Spark-first shape:
 *  - a file larger than the split target (maxPartitionBytes, shrunk
 *    to give >= 2x default parallelism) is split by byte range, one
 *    chunk per partition, and each reader seeks to the first Avro sync
 *    marker in its range (the same block-level split discipline the
 *    upstream module gets from FileFormat) — a single huge file fans
 *    out across the cluster;
 *  - smaller files are packed whole into shared partitions, sized as
 *    Spark's FilePartition sizes them (each file costs its length plus
 *    openCostInBytes, about one partition per core), so a directory of
 *    small CDC files runs as a few tasks instead of one per file;
 *  - column pruning is pushed into the Avro DECODER via reader-schema
 *    projection (SupportsPushDownRequiredColumns -> pruned reader
 *    schema), so unreferenced fields are skipped, not decoded;
 *  - the optional "muninn.pathColumn" option appends a string column
 *    carrying each row's source file path (a DSv2 source is invisible
 *    to input_file_name(), which is how the engine's _source_file
 *    contract is preserved on this path).
 */
public class AvroDataSource implements TableProvider, DataSourceRegister {

    static final String PATH_COLUMN_OPTION = "muninn.pathColumn";

    @Override
    public String shortName() {
        return "avro";
    }

    @Override
    public boolean supportsExternalMetadata() {
        return true;
    }

    static Configuration hadoopConf() {
        return SparkContext.getOrCreate().hadoopConfiguration();
    }

    static List<FileStatus> listFiles(CaseInsensitiveStringMap options, Configuration conf) {
        List<String> patterns = new ArrayList<>();
        if (options.containsKey("paths")) {
            try {
                String[] ps = new ObjectMapper().readValue(
                        options.get("paths"), String[].class);
                patterns.addAll(Arrays.asList(ps));
            } catch (IOException e) {
                throw new IllegalArgumentException("bad paths option", e);
            }
        }
        if (options.containsKey("path")) {
            patterns.add(options.get("path"));
        }
        if (patterns.isEmpty()) {
            throw new IllegalArgumentException("avro source needs a path");
        }
        List<FileStatus> files = new ArrayList<>();
        try {
            for (String p : patterns) {
                Path path = new Path(p);
                FileSystem fs = path.getFileSystem(conf);
                FileStatus[] matches = fs.globStatus(path);
                if (matches == null) {
                    throw new IllegalArgumentException("path does not exist: " + p);
                }
                for (FileStatus m : matches) {
                    if (m.isDirectory()) {
                        for (FileStatus child : fs.listStatus(m.getPath())) {
                            if (child.isFile() && keep(child)) {
                                files.add(child);
                            }
                        }
                    } else if (keep(m)) {
                        files.add(m);
                    }
                }
            }
        } catch (IOException e) {
            throw new RuntimeException("listing avro inputs failed", e);
        }
        files.sort((a, b) -> a.getPath().toString().compareTo(b.getPath().toString()));
        return files;
    }

    private static boolean keep(FileStatus f) {
        String name = f.getPath().getName();
        return f.getLen() > 0 && !name.startsWith("_") && !name.startsWith(".");
    }

    static Schema readWriterSchema(FileStatus file, Configuration conf) {
        try (DataFileReader<GenericRecord> r = new DataFileReader<>(
                new FsInput(file.getPath(), conf), new GenericDatumReader<>())) {
            return r.getSchema();
        } catch (IOException e) {
            throw new RuntimeException("cannot read avro header: " + file.getPath(), e);
        }
    }

    @Override
    public StructType inferSchema(CaseInsensitiveStringMap options) {
        Configuration conf = hadoopConf();
        List<FileStatus> files = listFiles(options, conf);
        if (files.isEmpty()) {
            throw new IllegalArgumentException("no avro files found");
        }
        Schema avro = readWriterSchema(files.get(0), conf);
        if (avro.getType() != Schema.Type.RECORD) {
            throw new IllegalArgumentException(
                    "top-level avro schema must be a record, got " + avro.getType());
        }
        StructType sql = (StructType) AvroConverters.toSqlType(
                avro, options.getBoolean("muninn.decimalAsBinary", false));
        String pathCol = options.get(PATH_COLUMN_OPTION);
        if (pathCol != null && !pathCol.isEmpty()) {
            sql = sql.add(new StructField(
                    pathCol, DataTypes.StringType, true, Metadata.empty()));
        }
        return sql;
    }

    @Override
    public Table getTable(StructType schema, Transform[] partitioning,
                          Map<String, String> properties) {
        return new AvroTable(schema, new CaseInsensitiveStringMap(properties));
    }

    // ------------------------------------------------------------------

    static class AvroTable implements Table, SupportsRead,
            org.apache.spark.sql.connector.catalog.SupportsWrite {
        private final StructType schema;
        private final CaseInsensitiveStringMap options;

        AvroTable(StructType schema, CaseInsensitiveStringMap options) {
            this.schema = schema;
            this.options = options;
        }

        @Override
        public String name() {
            return "muninn-avro";
        }

        @Override
        public StructType schema() {
            return schema;
        }

        @Override
        public Set<TableCapability> capabilities() {
            return Collections.unmodifiableSet(new HashSet<>(Arrays.asList(
                    TableCapability.BATCH_READ,
                    TableCapability.BATCH_WRITE,
                    TableCapability.ACCEPT_ANY_SCHEMA)));
        }

        @Override
        public ScanBuilder newScanBuilder(CaseInsensitiveStringMap scanOptions) {
            CaseInsensitiveStringMap merged = scanOptions.isEmpty() ? options : scanOptions;
            return new AvroScanBuilder(schema, merged);
        }

        @Override
        public org.apache.spark.sql.connector.write.WriteBuilder newWriteBuilder(
                org.apache.spark.sql.connector.write.LogicalWriteInfo info) {
            String path = info.options().containsKey("path")
                    ? info.options().get("path") : options.get("path");
            if (path == null) {
                throw new IllegalArgumentException("avro write needs a path");
            }
            String codec = info.options().getOrDefault(
                    "muninn.codec",
                    options.getOrDefault("muninn.codec", "null"));
            return new AvroWriteSupport.AvroWriteBuilder(
                    path, info.schema(), codec,
                    new SerializableConfiguration(hadoopConf()));
        }
    }

    // ------------------------------------------------------------------

    static class AvroScanBuilder
            implements ScanBuilder, SupportsPushDownRequiredColumns, Scan, Batch {
        private final StructType fullSchema;
        private final CaseInsensitiveStringMap options;
        private StructType required;

        AvroScanBuilder(StructType fullSchema, CaseInsensitiveStringMap options) {
            this.fullSchema = fullSchema;
            this.options = options;
            this.required = fullSchema;
        }

        @Override
        public void pruneColumns(StructType requiredSchema) {
            this.required = requiredSchema;
        }

        @Override
        public Scan build() {
            return this;
        }

        @Override
        public StructType readSchema() {
            return required;
        }

        @Override
        public String description() {
            return "muninn-avro ReadSchema: " + required.simpleString();
        }

        @Override
        public Batch toBatch() {
            return this;
        }

        @Override
        public InputPartition[] planInputPartitions() {
            Configuration conf = hadoopConf();
            List<FileStatus> files = listFiles(options, conf);
            long maxBytes;
            long openCost;
            try {
                org.apache.spark.sql.internal.SQLConf sql =
                        org.apache.spark.sql.internal.SQLConf.get();
                maxBytes = sql.filesMaxPartitionBytes();
                openCost = sql.filesOpenCostInBytes();
            } catch (Throwable t) {
                maxBytes = 128L * 1024 * 1024;
                openCost = 4L * 1024 * 1024;
            }
            // match FilePartition sizing: aim for >= 2x default parallelism
            // so one big file still fans out when maxPartitionBytes is large
            long total = files.stream().mapToLong(FileStatus::getLen).sum();
            int parallelism = Math.max(1, SparkContext.getOrCreate().defaultParallelism());
            long share = total / (parallelism * 2L);
            // floor at 4 MiB: below that, split bookkeeping beats decode
            long target = Math.min(maxBytes, Math.max(4L * 1024 * 1024, share));
            // files at or under the target are packed whole, as FilePartition
            // packs them: each costs its length plus openCost, and a partition
            // closes before it would pass packCap
            long bytesPerCore = (total + files.size() * openCost) / parallelism;
            long packCap = Math.min(maxBytes, Math.max(target, bytesPerCore));
            List<InputPartition> parts = new ArrayList<>();
            Pack pack = new Pack();
            for (FileStatus f : files) {
                String path = f.getPath().toString();
                long len = f.getLen();
                if (len <= target) {
                    if (!pack.paths.isEmpty() && pack.cost + len > packCap) {
                        pack.closeInto(parts);
                    }
                    pack.add(path, len, openCost);
                    continue;
                }
                // close first so partitions stay in path order
                pack.closeInto(parts);
                for (long start = 0; start < len; start += target) {
                    parts.add(new AvroInputPartition(new String[] {path},
                            new long[] {start},
                            new long[] {Math.min(target, len - start)}));
                }
            }
            pack.closeInto(parts);
            return parts.toArray(new InputPartition[0]);
        }

        /** Whole small files packed into one partition being planned. */
        private static final class Pack {
            final List<String> paths = new ArrayList<>();
            final List<Long> lengths = new ArrayList<>();
            long cost;

            void add(String path, long length, long openCost) {
                paths.add(path);
                lengths.add(length);
                cost += length + openCost;
            }

            void closeInto(List<InputPartition> parts) {
                if (paths.isEmpty()) {
                    return;
                }
                parts.add(new AvroInputPartition(
                        paths.toArray(new String[0]),
                        new long[paths.size()],
                        lengths.stream().mapToLong(Long::longValue).toArray()));
                paths.clear();
                lengths.clear();
                cost = 0;
            }
        }

        @Override
        public PartitionReaderFactory createReaderFactory() {
            String pathCol = options.get(PATH_COLUMN_OPTION);
            return new AvroReaderFactory(
                    required.json(),
                    pathCol == null ? "" : pathCol,
                    new SerializableConfiguration(hadoopConf()));
        }
    }
}
