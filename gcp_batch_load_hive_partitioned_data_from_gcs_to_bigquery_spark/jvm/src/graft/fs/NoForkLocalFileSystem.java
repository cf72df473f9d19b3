package graft.fs;

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
 * The stock checksummed {@code file://} FileSystem over a raw FS whose
 * {@code setPermission} is one chmod syscall. Without libhadoop's
 * NativeIO, {@link RawLocalFileSystem#setPermission} forks a
 * {@code chmod} process for every file, {@code .crc} and directory a
 * write creates; everything else (checksums, umask, rename) is inherited.
 */
public class NoForkLocalFileSystem extends LocalFileSystem {
  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) != 0) {  // sticky / setuid / setgid: NIO cannot set them
        super.setPermission(p, permission);
        return;
      }
      // PosixFilePermission declares OWNER_READ (0400) .. OTHERS_EXECUTE (0001)
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission bit : PosixFilePermission.values()) {
        if ((mode & (0400 >> bit.ordinal())) != 0) {
          perms.add(bit);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (UnsupportedOperationException e) {  // a non-POSIX file store
        super.setPermission(p, permission);
      }
    }
  }
}
