package muninnavro;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/** Hadoop's checksummed local filesystem, with permissions set in-process.
 *
 * <p>Without the libhadoop native library, {@code RawLocalFileSystem}
 * sets a permission by running {@code chmod} in a child process (plus a
 * stderr-reader thread). File creates and directory creates both go
 * through {@code setPermission}, so each part file, its {@code .crc}
 * sidecar, each task-attempt directory and {@code _SUCCESS} cost a fork.
 * This class keeps everything else of {@code LocalFileSystem} (checksums,
 * listing, path qualification) and sets the same mode through
 * {@code java.nio}. Hadoop has applied the umask before the call.
 *
 * <p>{@code session.get_spark} installs it as {@code fs.file.impl}. */
public class NioLocalFileSystem extends LocalFileSystem {
    public NioLocalFileSystem() {
        super(new NioRawLocalFileSystem());
    }

    /** {@code RawLocalFileSystem} whose only change is {@link #setPermission}. */
    static class NioRawLocalFileSystem extends RawLocalFileSystem {
        /** OWNER_READ .. OTHERS_EXECUTE: the mode bits 0400 down to 0001. */
        private static final PosixFilePermission[] BITS = PosixFilePermission.values();

        @Override
        public void setPermission(Path p, FsPermission permission) throws IOException {
            // java.nio has no sticky bit: keep Hadoop's own route for it
            if (permission.getStickyBit()) {
                super.setPermission(p, permission);
                return;
            }
            int mode = permission.toShort();
            Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
            for (int i = 0; i < BITS.length; i++) {
                if ((mode & (0400 >> i)) != 0) {
                    perms.add(BITS[i]);
                }
            }
            try {
                Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
            } catch (UnsupportedOperationException e) {
                // a store without POSIX attributes
                super.setPermission(p, permission);
            }
        }
    }
}
