package org.sparkgraft.localfs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * {@link RawLocalFileSystem} whose {@code setPermission} runs in-process.
 *
 * <p>Without the Hadoop native library the stock method starts a
 * {@code chmod} process, and it runs on every file create and mkdir. This
 * one sets the same mode bits through {@link Files#setPosixFilePermissions}.
 * The callers have already applied the umask. A mode with the sticky, setuid
 * or setgid bit has no POSIX permission set, so it goes to the stock method.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    short mode = permission.toShort();
    if ((mode & ~0777) != 0) {
      super.setPermission(p, permission);
      return;
    }
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    // BITS runs OWNER_READ .. OTHERS_EXECUTE, i.e. mode bits 0400 .. 0001
    for (int i = 0; i < BITS.length; i++) {
      if ((mode & (0400 >> i)) != 0) {
        perms.add(BITS[i]);
      }
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
  }
}
