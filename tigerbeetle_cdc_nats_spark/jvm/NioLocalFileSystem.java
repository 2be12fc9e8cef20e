package tigerbeetle_cdc_nats_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local filesystem, minus a process per permission.
 *
 * <p>Without Hadoop's native library, {@link RawLocalFileSystem} sets the
 * mode of every file it creates and every directory it makes by starting
 * a {@code chmod} process, a few milliseconds each; a micro-batch of the
 * CDC pipeline creates about 35 such files and directories. The raw
 * filesystem here sets the mode through {@code java.nio} instead. It is
 * wrapped in a {@link LocalFileSystem}, so {@code .crc} files are still
 * written and verified.
 *
 * <p>A rename onto an existing file returns false and changes nothing, as
 * in Hive's {@code ProxyLocalFileSystem}, which Hadoop's service loader
 * picks for {@code file:} when Spark's Hive jars are present.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }

  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  /** {@link RawLocalFileSystem} with {@code setPermission} through java.nio. */
  public static class NioRawLocalFileSystem extends RawLocalFileSystem {

    /** POSIX permissions by mode bit, lowest bit first. */
    private static final PosixFilePermission[] BITS = {
        PosixFilePermission.OTHERS_EXECUTE, PosixFilePermission.OTHERS_WRITE,
        PosixFilePermission.OTHERS_READ, PosixFilePermission.GROUP_EXECUTE,
        PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_READ,
        PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.OWNER_WRITE,
        PosixFilePermission.OWNER_READ,
    };

    /**
     * Sets the mode with {@code Files.setPosixFilePermissions}. A mode
     * with bits beyond 0777 (sticky, setuid, setgid), which java.nio
     * cannot set, and a file store without a POSIX view take Hadoop's
     * own path.
     */
    @Override
    public void setPermission(Path p, FsPermission permission)
        throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) == 0) {
        Set<PosixFilePermission> perms =
            EnumSet.noneOf(PosixFilePermission.class);
        for (int bit = 0; bit < BITS.length; bit++) {
          if ((mode & (1 << bit)) != 0) {
            perms.add(BITS[bit]);
          }
        }
        try {
          Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
          return;
        } catch (UnsupportedOperationException e) {
          // no POSIX file attribute view: fall through
        }
      }
      super.setPermission(p, permission);
    }
  }
}
