package rtes.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's raw local filesystem without its per-file shell-outs.
 *
 * <p>Without libhadoop, {@link RawLocalFileSystem} forks {@code chmod} on
 * every create and mkdir and {@code readlink} on every link-status lookup,
 * which FileContext's rename makes for both its source and destination.
 * These overrides make the same system calls through java.nio. Anything
 * they do not cover (sticky bit, symlinks) stays with the stock code.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {
  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    if ((permission.toShort() & ~0777) != 0) {
      super.setPermission(p, permission);
      return;
    }
    // Exactly the nine rwx bits, so toString() is the "rwxr-x---" form.
    Files.setPosixFilePermissions(pathToFile(p).toPath(),
        PosixFilePermissions.fromString(permission.toString()));
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    if (Files.isSymbolicLink(pathToFile(f).toPath())) {
      return super.getFileLinkStatus(f);
    }
    return getFileStatus(f);
  }
}
