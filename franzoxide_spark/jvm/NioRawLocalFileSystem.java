package franzoxide.hadoop;

import java.io.File;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * A RawLocalFileSystem that sets modes and detects symlinks in-process.
 *
 * Without libhadoop the parent class runs {@code chmod} in a new process for
 * every setPermission, and so for every non-append create and every mkdirs,
 * and {@code readlink} in a new process for every getFileLinkStatus, which
 * FileContext calls on every rename. Both overrides give the parent's
 * results; sticky-bit modes, non-POSIX filesystems and real symlinks are
 * left to the parent.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {
  // OWNER_READ .. OTHERS_EXECUTE, in the order of mode bits 0400 .. 0001
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

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    // The parent asks readlink about new File(f.toString()) and, when it
    // prints nothing, returns getFileStatus(f).
    if (!Files.isSymbolicLink(new File(f.toString()).toPath())) {
      return getFileStatus(f);
    }
    return super.getFileLinkStatus(f);
  }
}
