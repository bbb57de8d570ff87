package go_fluentd_spark.jvm;

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
 * Hadoop's local {@code file:} FileSystem, checksums and all, with one change:
 * permissions are set inside the JVM.
 *
 * <p>Without libhadoop, {@link RawLocalFileSystem#setPermission} forks
 * {@code chmod} for every file and directory it creates (about 5 ms each), and
 * a fresh manifested run creates 96 of them. Here the nine rwx bits are set
 * with {@link Files#setPosixFilePermissions}; a mode NIO cannot express (a
 * sticky bit) or a filesystem without POSIX attributes goes to Hadoop's own
 * path. File creation and {@code mkdirs} both reach this override, so the
 * files, {@code .crc} files and modes on disk are the ones stock Hadoop writes.
 */
public class InProcessChmodFileSystem extends LocalFileSystem {

  public InProcessChmodFileSystem() {
    super(new Raw());
  }

  static class Raw extends RawLocalFileSystem {
    /** OWNER_READ (0400) first, OTHERS_EXECUTE (0001) last. */
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (UnsupportedOperationException e) {
        super.setPermission(p, permission);
      }
    }
  }
}
